package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{SessionStores, VectorStore}

/** Embedding similarity-search surface (⊕ LLM-pipeline) over
  * `embeddings.parquet`. Every query serves from the persisted
  * `VectorStore` (prepared+bucketed vectors; cell-partitioned IVF with
  * trained centroids) — built once per (process, corpus), so the timed
  * query measures the probe, not the build (Bench attributes the build
  * to `store_build_sec`). Results are identical to the direct
  * `Similarity.*` operators: doubles round-trip parquet exactly, and
  * SimilaritySpec pins stored ≡ direct on the fixture. Oracles compute
  * the identical double-precision cosine (explicit element-wise product
  * sum) so results hash-match after 6-dp rounding.
  */
object SimilarityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_topk" -> ((s, dir) => VectorStore.topK(s, dir, queryId = 0L, k = 10)),
    "q_ann_nn" -> ((s, dir) => VectorStore.annNearestNeighbor(s, dir, bits = 8)),
    "q_ann_nn_mp" -> ((s, dir) =>
      VectorStore.annNearestNeighborMultiProbe(s, dir, bits = 8)),
    "q_ann_ivf" -> ((s, dir) => VectorStore.ivfTopK(s, dir, queryId = 0L, k = 10)),
    "q_ann_ivf_trained" -> ((s, dir) =>
      VectorStore.ivfTopKTrained(s, dir, queryId = 0L, k = 10)),
    "q_embed_dup" -> ((s, dir) => VectorStore.embeddingDuplicates(s, dir)),
    // PQ-ADC: codes-only candidate ranking + exact re-rank of the pool —
    // the memory-side ANN family (M bytes/vector scanned, floats touched
    // only for poolSize candidates); oracle mirrors the whole pipeline
    "q_ann_pq" -> ((s, dir) => VectorStore.pqTopK(s, dir, queryId = 0L, k = 10)),
    // IVF-PQ: residual encoding against the trained cells + per-cell
    // coarse term + global ADC table — the billion-scale composition
    "q_ann_ivfpq" -> ((s, dir) => VectorStore.ivfPqTopK(s, dir, queryId = 0L, k = 10)),

    // IVF-PQ with the OPQ eigen-allocation rotation composed in
    // (Pca.fit's covariance diagonal → variance-balancing permutation →
    // residuals rotate before the subspace split). Same code budget as
    // q_ann_ivfpq; recall parity pinned in OpqSpec via retrievalEval.
    // Pool 12 (vs ivfpq's 100): tight enough that the rotated-code ADC
    // ranking decides the output — a skipped rotation hash-fails.
    "q_ann_opq" -> ((s, dir) =>
      VectorStore.ivfPqOpqTopK(s, dir, queryId = 0L, k = 10, poolSize = 12)),
    // MMR diversity re-rank: greedy relevance-minus-redundancy over a
    // distributed top-30 pool; only the pool-sized matrix lifts
    "q_mmr" -> ((s, dir) => VectorStore.mmrRerank(s, dir)),

    // Exact kNN JOIN (the batch-retrieval shape: top-k neighbors for
    // EVERY query in a query set, one pass) — the `Similarity.knnJoin`
    // operator: the 10-vector query set rides under the operator's
    // count-gated broadcast (10 ≤ the 10k gate; an UNBOUNDED query set
    // would follow stats/AQE instead of force-broadcasting), scoring
    // is O(|Q|·N) against the store's prepared vectors, and the
    // per-query top-5 plans as WindowGroupLimit bounded heaps
    // (partial+final), never a global sort of the scored mass.
    "q_knn_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val vs = VectorStore.vectors(s, dir).select("vec_id", "v", "norm")
      val qs = vs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
      // the vec_id < 10 filter bounds |Q| ≤ 10 by construction — passed
      // as the gate bound so no eager count job rides the timed plan
      graft.operators.Similarity.knnJoin(vs, qs, k = 5,
        knownQueryCount = Some(10L))
    }),
    // SemDeDup: trained-IVF cells bound the quadratic term; discard =
    // has a smaller-id cluster-mate with cosine >= threshold
    "q_semdedup" -> ((s, dir) => VectorStore.semDedup(s, dir)),
    // Streamed twins: the corpus ingested in three micro-batches through
    // StreamingEmbed.processBatch; served from the accumulated store
    // under the SAME oracle SQL as the batch queries (the store's
    // canonical vectors/pairs equal the batch relations — StreamingSpec
    // proves it, these rows hash-check it).
    "q_embed_dup_streamed" -> ((s, dir) =>
      graft.streaming.StreamingEmbed.pairs(s, EmbedStores.streamedStore(s, dir))),
    "q_semdedup_streamed" -> ((s, dir) =>
      graft.operators.Similarity.semDedupDiscards(streamedIvf(s, dir),
        threshold = 0.3)),

    // RETRIEVAL QUALITY EVALUATION (the ANN index-regression gate):
    // recall@10 / true-top-1 reciprocal rank / NDCG@10 of the IVF
    // retrieval against the exact kNN ground truth, per query in the
    // 10-query set. Both sides are one plan each (multi-query IVF via
    // the broadcast probe relation; exact via the count-gated knnJoin);
    // the metric join is k·|Q|-row-sized. The oracle recomputes BOTH
    // retrieval pipelines AND the metrics independently — an IVF recall
    // bug shifts recall/ndcg and fails the hash.
    "q_ann_eval" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val (assigned, cents) = VectorStore.ivf(s, dir, nCells = 16, iters = 0)
      val vs = VectorStore.vectors(s, dir).select("vec_id", "v", "norm")
      val qs = vs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
      val approx = graft.operators.Similarity.ivfKnnJoin(
        assigned, cents, qs, k = 10, nProbe = 2)
      val exact = graft.operators.Similarity.knnJoin(vs, qs, k = 10,
        knownQueryCount = Some(10L))
      graft.operators.Similarity.retrievalEval(approx, exact, k = 10)
    }),

    // Top PRINCIPAL COMPONENT of the embedding corpus (dimensionality
    // diagnostic before whitening / PQ subspace design): one
    // distributed Gram/moment pass (map-side pair explode, ONE (i, j)
    // aggregate of d(d+1)/2 + d + 1 exact-DECIMAL rows), then 8 rounds
    // of 6dp-quantized power iteration on the driver-local d×d
    // covariance (bounded by the dims contract — the centroid-lift
    // role). Oracle unrolls the identical quantized iteration.
    "q_embed_pca" -> ((s, dir) =>
      graft.operators.Pca.topComponent(
        s.read.parquet(s"$dir/embeddings.parquet"), dims = 64)),

    // Streamed twin: the moment pass runs over the accumulated
    // StreamingEmbed store's canonical vectors (exact float→double
    // widenings of the batch inputs, so the 6dp element grid quantizes
    // identically) — the batch oracle verbatim is the store's corpus
    // contract for a DERIVED spectral statistic.
    "q_embed_pca_streamed" -> ((s, dir) =>
      graft.operators.Pca.topComponent(
        graft.streaming.StreamingEmbed.vectors(s, EmbedStores.streamedStore(s, dir))
          .select(org.apache.spark.sql.functions.col("v").as("embedding")),
        dims = 64)),

    // TOP-K PRINCIPAL COMPONENTS via deflation (r16 VERDICT ask #2):
    // the SAME single Gramian pass — deflation is k driver-local d×d
    // subtractions on the exact-decimal 6dp grid (C ← round6(C − λ₆vvᵀ)),
    // so k components cost ONE corpus scan, not k. The oracle unrolls
    // all four deflation rounds (4 × 8 power-iteration CTEs + 3
    // deflated-matrix CTEs) and must match bit-for-bit.
    "q_embed_pca_k" -> ((s, dir) =>
      graft.operators.Pca.topComponents(
        s.read.parquet(s"$dir/embeddings.parquet"), dims = 64, k = 4)),

    // Streamed twin of the k-component fit: the same ONE-pass moment
    // aggregate over the accumulated store's canonical vectors (exact
    // float→double widenings ⇒ identical 6dp quantization), the same
    // driver deflation — the batch oracle verbatim is the store's
    // corpus contract for the derived spectral family.
    "q_embed_pca_k_streamed" -> ((s, dir) =>
      graft.operators.Pca.topComponents(
        streamedEmbeddings(s, dir), dims = 64, k = 4)),

    // Streamed twin of the whitening audit: fit + projection over the
    // accumulated store's canonical vectors (WhitenStore keyed by
    // input), the identical one-pass Gram aggregate — batch oracle
    // verbatim.
    "q_whiten_streamed" -> ((s, dir) =>
      whitenGram(streamedWhitenTable(s, dir), k = 4)),

    // WHITENED SemDeDup (the paper-faithful composition — Abbas et al.
    // 2023 whiten embeddings BEFORE clustering/dedup so no dominant
    // direction swamps the cosine): the same keep-one-per-semantic-
    // group discard pass, but over the 4-dim WHITENED coordinates from
    // the session store — decorrelated axes, unit variances. Cells are
    // the deterministic first-16 quantizer in whitened space (the
    // q_ann_eval protocol, oracle-checkable); the quadratic term stays
    // bounded per cell exactly as in q_semdedup. The oracle recomputes
    // the ENTIRE chain: 4-component deflation PCA, projection,
    // whitened-space assignment, in-cell pairs, discard set.
    "q_semdedup_whitened" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val z = WhitenStore.table(s, dir)
        .select(col("vec_id"), col("z").as("embedding"))
      // zero-norm contract (review fix): whitened coordinates are
      // mean-centered, so a vector AT the component means has no
      // direction — excluded on BOTH engines (a 0/0 cosine's NaN
      // semantics differ between Spark and DuckDB)
      val p = graft.operators.Similarity.prepared(z).filter(col("norm") > 0)
      val cents = graft.operators.Similarity.collectCentroids(p, 16)
      val assigned = p.withColumn("cell",
        graft.operators.Similarity.bestCell(cents).cast("int"))
      graft.operators.Similarity.semDedupDiscards(assigned, threshold = 0.95)
    }),

    // Streamed twin of the whitened SemDeDup: the whitened store
    // derives from the ACCUMULATED embedding store's canonical vectors
    // (≡ batch bit-for-bit), so the discard pass hash-checks under the
    // batch oracle — the derived-relation contract extended to the
    // whitened geometry.
    "q_semdedup_whitened_streamed" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val z = streamedWhitenTable(s, dir)
        .select(col("vec_id"), col("z").as("embedding"))
      // zero-norm contract mirrored from the batch twin
      val p = graft.operators.Similarity.prepared(z).filter(col("norm") > 0)
      val cents = graft.operators.Similarity.collectCentroids(p, 16)
      val assigned = p.withColumn("cell",
        graft.operators.Similarity.bestCell(cents).cast("int"))
      graft.operators.Similarity.semDedupDiscards(assigned, threshold = 0.95)
    }),

    // MARGIN-BASED MIRROR MINING (r16 VERDICT ask #3 — the
    // Artetxe–Schwenk margin-ratio selector multilingual pipelines run
    // over a vector store): cross-label candidate pairs from the IVF
    // kNN in BOTH directions (cell-keyed equi-joins — the probe side
    // is corpus-sized, so no broadcast hint; AQE decides), per-endpoint
    // neighborhood averages in exact 6dp DECIMAL, margin =
    // 2·sim/(avg_a+avg_b) ≥ 1.002. The oracle recomputes the full IVF
    // assignment, both kNN passes, and the margins independently.
    "q_margin_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val (assigned, cents) = VectorStore.ivf(s, dir, nCells = 16, iters = 0)
      val lab = graft.sources.Tables.tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val asg = assigned.join(lab, "vec_id")
      graft.operators.Similarity.marginPairs(
        asg.filter(col("label") === 0).drop("label"),
        asg.filter(col("label") === 1).drop("label"),
        cents, k = 4, nProbe = 2, threshold = 1.002)
    }),

    // Streamed twin of the margin mining: the PERSISTED first-16
    // assignment derived from the ACCUMULATED store (canonical ≡
    // batch; version-keyed `streamedIvf0`, built untimed), identical
    // mining pipeline — batch oracle verbatim.
    "q_margin_pairs_streamed" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val (assigned, cents) = streamedIvf0(s, dir)
      val lab = graft.sources.Tables.tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val asg2 = assigned.join(lab, "vec_id")
      graft.operators.Similarity.marginPairs(
        asg2.filter(col("label") === 0).drop("label"),
        asg2.filter(col("label") === 1).drop("label"),
        cents, k = 4, nProbe = 2, threshold = 1.002)
    }),

    // WHITENING audit (the projection pipelines apply before PQ /
    // SemDeDup): the whitened coordinates z = (x − μ)ᵀV / √λ live in a
    // session store (built untimed — one shuffle-free mapPartitions
    // projection over the corpus); the timed query is ONE aggregate
    // pass computing the whitened Gram matrix E[z_a z_b] + means —
    // identity-shaped iff the deflated components are orthogonal and
    // the eigenvalue scaling is right, which is exactly what the
    // independent oracle (full PCA unroll + projection in SQL) checks.
    "q_whiten" -> ((s, dir) => whitenGram(WhitenStore.table(s, dir), k = 4)),

    // Scalar INT8 QUANTIZATION audit (the embedding-export step a
    // vector-serving stack runs: per-vector min/max affine codes à la
    // FAISS SQ8): code = round((x − mn)/scale), scale = (mx − mn)/255,
    // and the reconstruction-error report (mean/max absolute error)
    // that decides whether SQ8 is acceptable for the corpus. Exploded
    // (vec, dim) relation → per-vec min/max → code/recon arithmetic →
    // per-vec DECIMAL-summed errors: two vec_id-keyed exchanges, both
    // AQE-splittable, no higher-order-function folds in the hot path.
    "q_int8_quant" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val p = graft.sources.Tables.tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val ex = p.select(col("vec_id"), explode(col("v")).as("x"))
      val mm = ex.groupBy("vec_id").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val scale = (col("mx") - col("mn")) / lit(255.0)
      val err = ex.join(mm, "vec_id")
        .withColumn("code", when(scale === 0, lit(0.0))
          .otherwise(round((col("x") - col("mn")) / scale, 0)))
        .withColumn("ae",
          round(abs(col("x") - (col("mn") + col("code") * scale)), 12)
            .cast(DecimalType(27, 12)))
      err.groupBy("vec_id").agg(
        round(min(col("mn")), 6).as("v_min"),
        round(min(col("mx")), 6).as("v_max"),
        round(sum(col("ae")).cast("double") / count(lit(1)), 6).as("mae"),
        round(max(col("ae")).cast("double"), 6).as("max_ae"))
    }),

    // HARD-NEGATIVE MINING (the contrastive-training batch-prep step):
    // for each query vector, the top-3 most-similar vectors with a
    // DIFFERENT label — maximally confusable negatives for metric
    // learning. Same bounded-|Q| broadcast shape as q_knn_join (10
    // queries by construction, the documented exact baseline); the
    // label-mismatch predicate rides the join, and the per-query top-3
    // plans as WindowGroupLimit bounded heaps.
    "q_hard_negatives" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val lab = graft.sources.Tables.tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val vs = VectorStore.vectors(s, dir).select("vec_id", "v", "norm")
        .join(lab, "vec_id")
      val qs = vs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("norm").as("qn"), col("label").as("qlabel"))
      val scored = vs.join(broadcast(qs),
          col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
        .select(col("qid"), col("vec_id"),
          round(graft.plans.DotF64.dotF64(col("v"), col("qv")) /
            (col("norm") * col("qn")), 6).as("sim"))
      val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    }),

    // Embedding-space drift between label cohorts — the dense-space
    // counterpart of q_source_drift's token-distribution JSD: per-label
    // centroid = per-position mean through an exact DECIMAL(27,12) sum
    // (the Lloyd determinism protocol: order-independent under Spark's
    // nondeterministic partition order), then every pairwise 6-dp
    // cosine between the label centroids. Scale shape: one
    // (label, pos) aggregate whose post-combine cardinality is
    // labels × dims, then a label-count-sized self-join — nothing
    // downstream of the scan grows with corpus size.
    "q_embed_drift" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val p = graft.sources.Tables.tbl(s, dir, "embeddings")
        .select(col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val cents = p.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg((sum(col("x").cast(DecimalType(27, 12))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy("label")
        // array_sort on struct(pos, m) orders by pos — rebuilds the
        // vector in position order regardless of aggregation order
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          f => f.getField("m")).as("cv"))
      val n = cents.select(col("label"), col("cv"),
        sqrt(graft.plans.DotF64.dotF64(col("cv"), col("cv"))).as("cn"))
      n.select(col("label").as("label_a"), col("cv").as("ca"), col("cn").as("na"))
        .join(n.select(col("label").as("label_b"), col("cv").as("cb"),
          col("cn").as("nb")), col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          round(graft.plans.DotF64.dotF64(col("ca"), col("cb")) /
            (col("na") * col("nb")), 6).as("sim"))
    }),
  )

  /** The accumulated store's canonical vectors re-labelled as an
    * embedding relation — the input the streamed spectral/whitening
    * twins fit over.
    */
  private[graft] def streamedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.streaming.StreamingEmbed
      .vectors(s, EmbedStores.streamedStore(s, dir))
      .select(col("vec_id"), col("v").as("embedding"))
  }

  /** First-16 (iters = 0, the q_ann_eval protocol) assignment DERIVED
    * from the streamed vector store and PERSISTED cell-partitioned per
    * store version — the margin-mining twin reads this instead of
    * recomputing the corpus-wide argmax inside every timed execution
    * (r17 review fix; the batch twin serves from `VectorStore.ivf`).
    * The ≤16-row centroid lift memoizes per VERSIONED root (the
    * `VectorStore.centroidCache` shape) so a served execution costs no
    * extra driver job. Returns (assigned, centroids).
    */
  private val ivf0Centroids = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[graft.operators.Similarity.Centroid]]()

  private[graft] def streamedIvf0(s: SparkSession, dir: String)
      : (DataFrame, Seq[graft.operators.Similarity.Centroid]) = {
    import org.apache.spark.sql.functions.col
    val store = EmbedStores.streamedStore(s, dir)
    def p = graft.streaming.StreamingEmbed.vectors(s, store)
      .select(col("vec_id"), col("v"), col("norm"))
    val ver = graft.streaming.StreamingEmbed.storeVersionCached(s, store)
    val root = graft.sources.SessionStores.scopedPath("graft_embstream_ivf0",
      s"ivf0_v${ver._1}_${ver._2}_" + graft.sources.SessionStores.tagOf(store))
    val cents = ivf0Centroids.computeIfAbsent(root,
      _ => graft.operators.Similarity.collectCentroids(p, 16))
    val assigned = graft.sources.SessionStores.servedPath(s, s"$root/assigned") {
      p.withColumn("cell",
          graft.operators.Similarity.bestCell(cents).cast("int"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell").parquet(s"$root/assigned")
    }
    (assigned, cents)
  }

  /** The streamed whiten store keyed by the EMBED STORE VERSION (the
    * streamedIvf0 protocol — r17 review fix): an ingest after the
    * first build re-fits instead of serving a stale whitening forever
    * this process.
    */
  private[graft] def streamedWhitenTable(s: SparkSession, dir: String): DataFrame = {
    val store = EmbedStores.streamedStore(s, dir)
    // cached resolve (r17 ADVICE): a served execution must not pay a
    // store-shaped version aggregate inside the timed row
    val ver = graft.streaming.StreamingEmbed.storeVersionCached(s, store)
    WhitenStore.tableFor(s, dir, s"streamed_v${ver._1}_${ver._2}",
      streamedEmbeddings(s, dir))
  }

  /** Trained-IVF assignment DERIVED from the streamed vector store,
    * persisted cell-partitioned per store VERSION (row count + latest
    * ingest stamp — an ingest or re-delivery rebuilds, an unchanged
    * store serves the persisted assignment; same memo-by-version
    * protocol as the streamed curation clusters). Keeps the Lloyd
    * training out of every q_semdedup_streamed execution, mirroring how
    * the batch twin serves from `VectorStore.ivf`.
    */
  private[graft] def streamedIvf(s: SparkSession, dir: String): DataFrame =
    streamedIvfFor(s, EmbedStores.streamedStore(s, dir))

  /** The derivation itself, keyed on an arbitrary StreamingEmbed store —
    * separated so the version-rebuild contract is spec-testable against
    * a mutable store.
    */
  private[graft] def streamedIvfFor(s: SparkSession, store: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val p = graft.streaming.StreamingEmbed.vectors(s, store)
      .select("vec_id", "v", "norm")
    val ver = graft.streaming.StreamingEmbed.storeVersionCached(s, store)
    val root = graft.sources.SessionStores.scopedPath("graft_embstream_ivf",
      s"ivf_v${ver._1}_${ver._2}_" +
        graft.sources.SessionStores.tagOf(store))
    graft.sources.SessionStores.servedPath(s, s"$root/assigned") {
      val cents = graft.operators.Similarity.lloydCentroids(p, nCells = 16, iters = 2)
      p.withColumn("cell", graft.operators.Similarity.bestCell(cents).cast("int"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell").parquet(s"$root/assigned")
    }
  }

  /** Session-scoped StreamingEmbed store holding `dir`'s embeddings
    * ingested incrementally (`SessionStores.streamed`, sliced on
    * vec_id) — the accumulate path the streamed twins serve from.
    */
  private[graft] object EmbedStores {
    def streamedStore(s: SparkSession, dir: String): String = {
      import org.apache.spark.sql.functions.col
      lazy val emb = graft.sources.Tables.tbl(s, dir, "embeddings")
      SessionStores.streamed(s, "graft_embstream", "store", dir) { (slice, path) =>
        graft.streaming.StreamingEmbed.processBatch(
          emb.filter(slice(col("vec_id"))), slice.id, path): Unit
      }
    }
  }

  /** Session-scoped WHITENED-COORDINATE store: fit the 4-component
    * deflation model once, project the corpus once (shuffle-free
    * mapPartitions — `Pca.whiten`), persist (vec_id, z[4]). Built once
    * per (session, dir) in Bench's untimed store block; timed q_whiten
    * reads only this.
    */
  private[graft] object WhitenStore {

    def table(s: SparkSession, dir: String): DataFrame =
      tableFor(s, dir, "batch", s.read.parquet(s"$dir/embeddings.parquet"))

    def tableFor(s: SparkSession, dir: String, tag: String,
                 emb: => DataFrame): DataFrame =
      graft.sources.SessionStores.parquet(s, "graft_whiten", s"store_$tag", dir) {
        val e = emb
        val model = graft.operators.Pca.fit(e, dims = 64, k = 4)
        graft.operators.Pca.whiten(e, model, dims = 64)
      }
  }

  /** q_whiten's timed body: the whitened Gram matrix E[z_a z_b] (upper
    * triangle) + per-component means in ONE aggregate pass over the
    * store — all sums in exact DECIMAL over the shared 6dp z grid, the
    * final divides IEEE double, so both engines agree bit-for-bit.
    */
  private def whitenGram(zs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    def zc(m: Int) = col("z").getItem(m - 1).cast(DecimalType(12, 6))
    val pairs = for { a <- 1 to k; b <- a to k } yield (a, b)
    val aggs = (1 to k).map(a => sum(zc(a)).as(s"s$a")) ++
      pairs.map { case (a, b) => sum(zc(a) * zc(b)).as(s"g${a}_$b") }
    val one = zs.agg(count(lit(1)).as("n"), aggs: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a.toLong).as("comp_a"), lit(b.toLong).as("comp_b"),
        col("n").as("n"),
        round(col(s"s$a").cast("double") / col("n"), 6).as("mean_a"),
        round(col(s"g${a}_$b").cast("double") / col("n"), 6).as("gram"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** vec_id, v (double list), norm — mirror of `Similarity.prepared`. */
  private val prepCte =
    """WITH p AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM p
      |)""".stripMargin

  private val signBucket =
    (1 to 8).map(i => s"(CASE WHEN v[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  /** One unrolled Lloyd iteration (mirror of `Similarity.lloydCentroids`):
    * assignment by 6-dp cosine vs centroids `c$it`, then per-position
    * means through an exact DECIMAL(27,12) sum (order-independent — the
    * portability hinge; the divide back to double is IEEE-deterministic),
    * producing `c${it+1}`. Dims are the fixture's fixed 64 (the lateral
    * `range(1, 65)`).
    */
  private def lloydIterSql(it: Int): String =
    s"""s$it AS (
       |  SELECT n.vec_id, n.v, n.norm, cent_id,
       |         round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*cv[i]))
       |               / (norm * cn), 6) AS csim
       |  FROM n, c$it
       |), a$it AS (
       |  SELECT vec_id, v, cent_id AS cell FROM s$it
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) = 1
       |), m$it AS (
       |  SELECT cell, i AS pos,
       |         CAST(SUM(CAST(v[i] AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS m
       |  FROM a$it, range(1, 65) t(i) GROUP BY cell, i
       |), l$it AS (
       |  SELECT cell AS cent_id, list(m ORDER BY pos) AS cv FROM m$it GROUP BY cell
       |), c${it + 1} AS (
       |  SELECT cent_id, cv, sqrt(list_sum(list_transform(cv, x -> x*x))) AS cn FROM l$it
       |)""".stripMargin

  /** IVF-PQ mirror: trained assignment (c2) → normalized vectors and
    * centroids → residuals → global residual codebook (vec_id < 32) →
    * candidate encode over the 4 probed cells → ADC estimate =
    * per-cell coarse term + DECIMAL-summed code dots → pool(100) →
    * exact re-rank. Every float compare 6-dp, every sum exact.
    */
  /** The IVF-PQ mirror chain, optionally with the OPQ eigen-allocation
    * rotation spliced in (`rotated = true`): the covariance DIAGONAL is
    * re-derived with the exact cf1 formula (the q_embed_pca-proven
    * text restricted to i = j), ranked (variance DESC, dim ASC), and
    * snake-allocated (forward/backward alternating rounds, the
    * variance-balancing boustrophedon) — `pl[j]` is the source dim of rotated
    * position j, exactly `PQ.eigenAllocation`. The rotation applies to
    * residuals and the query's ADC-side vector only; coarse term and
    * exact re-rank stay in the original basis, mirroring the engine.
    */
  private def ivfPqChain(rotated: Boolean): String = {
    // the rotated row serves a TIGHT pool (12) so the rotated-code ADC
    // ranking — not the exact re-rank over a pool ⊇ the candidates —
    // decides the output: at pool 100 the top-10 equals plain IVF-PQ's
    // and a silently-skipped rotation would be hash-invisible
    val poolSize = if (rotated) 12 else 100
    val permCtes = if (!rotated) "" else
      s""", dmo AS MATERIALIZED (
         |  SELECT t.i,
         |         SUM(CAST(round(CAST(embedding[t.i] AS DOUBLE), 6) AS DECIMAL(15,6))
         |             * CAST(round(CAST(embedding[t.i] AS DOUBLE), 6) AS DECIMAL(15,6))) AS g,
         |         SUM(CAST(round(CAST(embedding[t.i] AS DOUBLE), 6) AS DECIMAL(15,6))) AS s
         |  FROM embeddings, range(1, 65) t(i) GROUP BY 1
         |), dg AS (
         |  SELECT i, round((CAST(g AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nn) / nn, 6) AS c
         |  FROM dmo, (SELECT count(*) AS nn FROM embeddings)
         |), operm AS (
         |  SELECT list(olddim ORDER BY
         |           (CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END) * 8
         |           + r // 8) AS pl
         |  FROM (SELECT i AS olddim, row_number() OVER (ORDER BY c DESC, i) - 1 AS r FROM dg)
         |)""".stripMargin
    val residRot = if (!rotated) "" else
      s""", rres AS (
         |  SELECT vec_id, cell, list_transform(range(1, 65), jj -> r[pl[jj]]) AS r
         |  FROM resid, operm
         |)""".stripMargin
    val residSrc = if (rotated) "rres" else "resid"
    val qsubsSrc = if (rotated)
      s"""(SELECT vec_id, list_transform(range(1, 65), jj -> vn[pl[jj]]) AS vn
         |   FROM pnorm, operm WHERE vec_id = 0)""".stripMargin
    else "(SELECT vec_id, vn FROM pnorm WHERE vec_id = 0)"
    s"""$prepCte$permCtes, c0 AS (
       |  SELECT vec_id AS cent_id, v AS cv, norm AS cn FROM n WHERE vec_id < 16
       |), ${lloydIterSql(0)}, ${lloydIterSql(1)}, sf AS (
       |  SELECT n.vec_id, n.v, n.norm, cent_id,
       |         round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*cv[i]))
       |               / (norm * cn), 6) AS csim
       |  FROM n, c2
       |), assigned AS (
       |  SELECT vec_id, v, norm, cent_id AS cell FROM sf
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) = 1
       |), probe AS (
       |  SELECT cent_id AS cell FROM sf WHERE vec_id = 0
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) <= 4
       |), pnorm AS (
       |  SELECT vec_id, cell, list_transform(v, x -> x / norm) AS vn FROM assigned
       |), centn AS (
       |  SELECT cent_id AS cell, list_transform(cv, x -> x / cn) AS cnv FROM c2
       |), resid AS (
       |  SELECT vec_id, p.cell,
       |         list_transform(range(1, 65), i -> vn[i] - cnv[i]) AS r
       |  FROM pnorm p JOIN centn USING (cell)
       |)$residRot, rsubs AS (
       |  SELECT vec_id, t.m, list_transform(range(1, 9), i -> r[t.m * 8 + i]) AS sub
       |  FROM $residSrc, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t(m)
       |), cb AS (
       |  SELECT m, vec_id AS cent_id, sub AS cw FROM rsubs WHERE vec_id < 32
       |), cand AS (
       |  SELECT vec_id, cell FROM assigned
       |  WHERE cell IN (SELECT cell FROM probe) AND vec_id <> 0
       |), dists AS (
       |  SELECT s.vec_id, s.m, c.cent_id,
       |         round(list_sum(list_transform(range(1, 9), i -> s.sub[i] * s.sub[i]))
       |               + list_sum(list_transform(range(1, 9), i -> c.cw[i] * c.cw[i]))
       |               - 2 * list_sum(list_transform(range(1, 9), i -> s.sub[i] * c.cw[i])), 6) AS dist
       |  FROM rsubs s JOIN cb c USING (m)
       |  WHERE s.vec_id IN (SELECT vec_id FROM cand)
       |), enc AS (
       |  SELECT vec_id, m, cent_id AS code FROM dists
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cent_id) = 1
       |), qsubs AS (
       |  SELECT t.m, list_transform(range(1, 9), i -> vn[t.m * 8 + i]) AS qsub
       |  FROM $qsubsSrc q0, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t(m)
       |), qd AS (
       |  SELECT c.m, c.cent_id,
       |         round(list_sum(list_transform(range(1, 9), i -> qs.qsub[i] * c.cw[i])), 6) AS qdot
       |  FROM cb c JOIN qsubs qs USING (m)
       |), qc AS (
       |  SELECT cn.cell,
       |         round(list_sum(list_transform(range(1, 65), i -> cnv[i] * qv.vn[i])), 6) AS qc
       |  FROM centn cn JOIN probe USING (cell),
       |       (SELECT vn FROM pnorm WHERE vec_id = 0) qv
       |), est AS (
       |  SELECT e.vec_id,
       |         CAST(SUM(CAST(qdot AS DECIMAL(18,6))) AS DOUBLE) AS sumr
       |  FROM enc e JOIN qd ON e.m = qd.m AND e.code = qd.cent_id
       |  GROUP BY e.vec_id
       |), scored AS (
       |  SELECT est.vec_id, qc.qc + est.sumr AS est
       |  FROM est JOIN cand USING (vec_id) JOIN qc ON cand.cell = qc.cell
       |), pool AS (
       |  SELECT vec_id FROM scored ORDER BY est DESC, vec_id LIMIT $poolSize
       |), q AS (
       |  SELECT v AS qv, norm AS qn FROM n WHERE vec_id = 0
       |)
       |SELECT n.vec_id,
       |       round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*qv[i]))
       |             / (norm * qn), 6) AS sim
       |FROM n JOIN pool USING (vec_id), q
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  private lazy val ivfPqSql: String = ivfPqChain(rotated = false)
  private lazy val opqSql: String = ivfPqChain(rotated = true)

  /** One MMR greedy step as CTEs: per remaining candidate, the max
    * 6-dp cosine to the already-selected set, then the argmax of
    * round(λ·simq − (1−λ)·ms, 6) with vec_id tie-break. λ enters as a
    * text→DOUBLE cast and (1−λ) is COMPUTED (1 − 0.7 in doubles =
    * 0.30000000000000004 — writing '0.3' would diverge from the
    * engine's `1.0 - lambda`).
    */
  private def mmrStepSql(i: Int): String =
    s"""ms$i AS MATERIALIZED (
       |  SELECT pq.vec_id, pq.simq, coalesce(max(ps.sim), CAST(0 AS DOUBLE)) AS ms
       |  FROM poolq pq
       |  LEFT JOIN pairsims ps
       |    ON ps.a = pq.vec_id AND ps.b IN (SELECT vec_id FROM sa${i - 1})
       |  WHERE pq.vec_id NOT IN (SELECT vec_id FROM sa${i - 1})
       |  GROUP BY pq.vec_id, pq.simq
       |), sel$i AS MATERIALIZED (
       |  SELECT vec_id,
       |         round(CAST('0.7' AS DOUBLE) * simq
       |               - (1 - CAST('0.7' AS DOUBLE)) * ms, 6) AS mmr
       |  FROM ms$i
       |  ORDER BY mmr DESC, vec_id LIMIT 1
       |), sa$i AS MATERIALIZED (
       |  SELECT vec_id FROM sa${i - 1} UNION ALL SELECT vec_id FROM sel$i
       |)""".stripMargin

  private lazy val mmrSql: String =
    s"""$prepCte, q AS MATERIALIZED (
       |  SELECT v AS qv, norm AS qn FROM n WHERE vec_id = 0
       |), poolq AS MATERIALIZED (
       |  SELECT vec_id, sim AS simq FROM (
       |    SELECT vec_id,
       |           round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*qv[i]))
       |                 / (norm * qn), 6) AS sim
       |    FROM n, q WHERE vec_id <> 0
       |    ORDER BY sim DESC, vec_id LIMIT 30)
       |), pm AS MATERIALIZED (
       |  SELECT n.vec_id, v, norm FROM n JOIN poolq USING (vec_id)
       |), pairsims AS MATERIALIZED (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |         round(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]))
       |               / (a.norm * b.norm), 6) AS sim
       |  FROM pm a JOIN pm b ON a.vec_id <> b.vec_id
       |), sel1 AS MATERIALIZED (
       |  SELECT vec_id,
       |         round(CAST('0.7' AS DOUBLE) * simq
       |               - (1 - CAST('0.7' AS DOUBLE)) * CAST(0 AS DOUBLE), 6) AS mmr
       |  FROM poolq ORDER BY mmr DESC, vec_id LIMIT 1
       |), sa1 AS MATERIALIZED (
       |  SELECT vec_id FROM sel1
       |), ${(2 to 10).map(mmrStepSql).mkString(", ")}
       |${(1 to 10).map(i =>
             s"SELECT $i AS mmr_rank, vec_id, mmr FROM sel$i").mkString("\nUNION ALL ")}
       |ORDER BY mmr_rank""".stripMargin

  /** SemDeDup mirror (shared by the batch query and its streamed twin):
    * the q_ann_ivf_trained assignment, then the in-cell smaller-id pair
    * pass with 6-dp cosines.
    */
  private lazy val semdedupSql: String =
    s"""$prepCte, c0 AS (
       |  SELECT vec_id AS cent_id, v AS cv, norm AS cn FROM n WHERE vec_id < 16
       |), ${lloydIterSql(0)}, ${lloydIterSql(1)}, sf AS (
       |  SELECT n.vec_id, n.v, n.norm, cent_id,
       |         round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*cv[i]))
       |               / (norm * cn), 6) AS csim
       |  FROM n, c2
       |), assigned AS (
       |  SELECT vec_id, v, norm, cent_id AS cell FROM sf
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) = 1
       |), pairs AS (
       |  SELECT b.vec_id, b.cell,
       |         round(list_sum(list_transform(range(1, len(b.v)+1), i -> b.v[i]*a.v[i]))
       |               / (b.norm * a.norm), 6) AS sim
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |)
       |SELECT vec_id, cell, max(sim) AS max_sim, count(*) AS n_dups
       |FROM pairs WHERE sim >= 0.3
       |GROUP BY vec_id, cell""".stripMargin

  /** Sign-bucket near-dup pairs (shared by q_embed_dup and its streamed
    * twin — the store's canonical pairs equal this relation).
    */
  private lazy val embedDupSql: String =
    s"""$prepCte, b AS (
       |  SELECT vec_id, v, norm, $signBucket AS bucket FROM n
       |), pairs AS (
       |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
       |         round(list_sum(list_transform(range(1, len(a.v)+1), k -> a.v[k]*b2.v[k]))
       |               / (a.norm * b2.norm), 6) AS sim
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
       |)
       |SELECT vec_a, vec_b, sim FROM pairs WHERE sim >= 0.3""".stripMargin

  /** One unrolled 6dp-quantized power-iteration round (mirror of
    * `Pca.topComponent`'s driver loop): exact DECIMAL mat-vec over the
    * 6dp covariance and previous state, 6dp re-quantize, exact-DECIMAL
    * norm, IEEE sqrt/divide, 6dp state.
    */
  private def pcaIterSql(t: Int): String =
    s"""w$t AS MATERIALIZED (
       |  SELECT cf.i,
       |         round(CAST(SUM(CAST(cf.c AS DECIMAL(18,6)) * CAST(vp.x AS DECIMAL(18,6))) AS DOUBLE), 6) AS w
       |  FROM cf JOIN v${t - 1} vp ON cf.j = vp.i GROUP BY cf.i
       |), nr$t AS (
       |  SELECT sqrt(CAST(SUM(CAST(w AS DECIMAL(18,6)) * CAST(w AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
       |  FROM w$t
       |), v$t AS MATERIALIZED (
       |  SELECT i, round(w / nrm, 6) AS x FROM w$t, nr$t
       |)""".stripMargin

  private lazy val pcaSql: String =
    s"""WITH p AS (
       |  SELECT embedding AS v FROM embeddings
       |), n1 AS (
       |  SELECT count(*) AS n FROM p
       |), mo AS MATERIALIZED (
       |  SELECT ti.i, tj.j,
       |         SUM(CAST(round(CAST(v[ti.i] AS DOUBLE), 6) AS DECIMAL(15,6))
       |             * CAST(round(CAST(v[tj.j] AS DOUBLE), 6) AS DECIMAL(15,6))) AS g
       |  FROM p, range(1, 65) ti(i), range(1, 65) tj(j)
       |  WHERE tj.j >= ti.i GROUP BY 1, 2
       |), su AS MATERIALIZED (
       |  SELECT t.i, SUM(CAST(round(CAST(v[t.i] AS DOUBLE), 6) AS DECIMAL(15,6))) AS s
       |  FROM p, range(1, 65) t(i) GROUP BY 1
       |), cf AS MATERIALIZED (
       |  SELECT q.i, q.j,
       |         round((CAST(q.g AS DOUBLE) - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) / n) / n, 6) AS c
       |  FROM (SELECT i, j, g FROM mo UNION ALL SELECT j AS i, i AS j, g FROM mo WHERE i <> j) q
       |  JOIN su si ON q.i = si.i JOIN su sj ON q.j = sj.i, n1
       |), v0 AS MATERIALIZED (
       |  SELECT t.i, CASE WHEN t.i = st.i THEN 1.0 ELSE 0.0 END AS x
       |  FROM range(1, 65) t(i),
       |       (SELECT i FROM cf WHERE i = j ORDER BY c DESC, i LIMIT 1) st(i)
       |), ${(1 to 8).map(pcaIterSql).mkString(", ")},
       |sgn AS (
       |  SELECT CASE WHEN (SELECT x FROM v8 ORDER BY abs(x) DESC, i LIMIT 1) < 0
       |              THEN -1.0 ELSE 1.0 END AS sg
       |), tr AS (
       |  SELECT CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS trace
       |  FROM cf WHERE i = j
       |), lam AS (
       |  SELECT round(nrm, 6) AS eig, round(nrm / trace, 6) AS explained
       |  FROM nr8, tr
       |)
       |SELECT CAST(v8.i AS BIGINT) AS dim, d.c AS variance,
       |       round(sg.sg * v8.x, 6) AS loading, lam.eig AS eig,
       |       lam.explained AS explained
       |FROM v8 JOIN (SELECT i, c FROM cf WHERE i = j) d ON v8.i = d.i,
       |     sgn sg, lam""".stripMargin

  /** Multi-component mirror machinery (q_embed_pca_k / q_whiten): the
    * q_embed_pca CTE chain parameterized by component index, plus a
    * DEFLATION CTE between components — cf1 is the base 6dp
    * covariance; cf{m+1} = round6(cf{m} − λ₆ v vᵀ) with the triple
    * product taken in exact decimals, mirroring `Pca.fit`.
    */
  private def pcaKIterSql(m: Int, t: Int): String =
    s"""w$m$t AS MATERIALIZED (
       |  SELECT cf$m.i,
       |         round(CAST(SUM(CAST(cf$m.c AS DECIMAL(18,6)) * CAST(vp.x AS DECIMAL(18,6))) AS DOUBLE), 6) AS w
       |  FROM cf$m JOIN v$m${t - 1} vp ON cf$m.j = vp.i GROUP BY cf$m.i
       |), nr$m$t AS (
       |  SELECT sqrt(CAST(SUM(CAST(w AS DECIMAL(18,6)) * CAST(w AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
       |  FROM w$m$t
       |), v$m$t AS MATERIALIZED (
       |  SELECT i, round(w / nrm, 6) AS x FROM w$m$t, nr$m$t
       |)""".stripMargin

  private def pcaKComponentCtes(m: Int, deflateNext: Boolean): String = {
    val base =
      s"""v${m}0 AS MATERIALIZED (
         |  SELECT t.i, CASE WHEN t.i = st.i THEN 1.0 ELSE 0.0 END AS x
         |  FROM range(1, 65) t(i),
         |       (SELECT i FROM cf$m WHERE i = j ORDER BY c DESC, i LIMIT 1) st(i)
         |), ${(1 to 8).map(t => pcaKIterSql(m, t)).mkString(", ")},
         |sgn$m AS (
         |  SELECT CASE WHEN (SELECT x FROM v${m}8 ORDER BY abs(x) DESC, i LIMIT 1) < 0
         |              THEN -1.0 ELSE 1.0 END AS sg
         |), lam$m AS (
         |  SELECT round(nrm, 6) AS eig, round(nrm / trace, 6) AS explained
         |  FROM nr${m}8, tr
         |)""".stripMargin
    if (!deflateNext) base
    else base + ", " +
      // r17 ADVICE: covariance entries / eigenvalues go up to 64·300²
      // ≈ 5.8e6 under the engine's ±300 element contract — DECIMAL(18,6)
      // like the w/trace CTEs, not (12,6). The unit-bounded loading
      // product downcasts EXACTLY to (13,12) (|v|≤1, scale-12 product of
      // two 6dp values) to keep the triple product inside DuckDB's
      // 38-digit decimal width.
      s"""cf${m + 1} AS MATERIALIZED (
         |  SELECT c0.i, c0.j,
         |         round(CAST(CAST(c0.c AS DECIMAL(18,6))
         |               - CAST(l.eig AS DECIMAL(18,6))
         |                 * CAST(CAST(vi.x AS DECIMAL(12,6)) * CAST(vj.x AS DECIMAL(12,6)) AS DECIMAL(13,12)) AS DOUBLE), 6) AS c
         |  FROM cf$m c0 JOIN v${m}8 vi ON c0.i = vi.i JOIN v${m}8 vj ON c0.j = vj.i, lam$m l
         |)""".stripMargin
  }

  /** Shared base for the k-component mirrors: the q_embed_pca moment /
    * covariance CTEs with the matrix named cf1 and the ORIGINAL trace.
    */
  private lazy val pcaKBase: String =
    """WITH p AS (
      |  SELECT embedding AS v FROM embeddings
      |), n1 AS (
      |  SELECT count(*) AS n FROM p
      |), mo AS MATERIALIZED (
      |  SELECT ti.i, tj.j,
      |         SUM(CAST(round(CAST(v[ti.i] AS DOUBLE), 6) AS DECIMAL(15,6))
      |             * CAST(round(CAST(v[tj.j] AS DOUBLE), 6) AS DECIMAL(15,6))) AS g
      |  FROM p, range(1, 65) ti(i), range(1, 65) tj(j)
      |  WHERE tj.j >= ti.i GROUP BY 1, 2
      |), su AS MATERIALIZED (
      |  SELECT t.i, SUM(CAST(round(CAST(v[t.i] AS DOUBLE), 6) AS DECIMAL(15,6))) AS s
      |  FROM p, range(1, 65) t(i) GROUP BY 1
      |), cf1 AS MATERIALIZED (
      |  SELECT q.i, q.j,
      |         round((CAST(q.g AS DOUBLE) - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) / n) / n, 6) AS c
      |  FROM (SELECT i, j, g FROM mo UNION ALL SELECT j AS i, i AS j, g FROM mo WHERE i <> j) q
      |  JOIN su si ON q.i = si.i JOIN su sj ON q.j = sj.i, n1
      |), tr AS (
      |  SELECT CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS trace
      |  FROM cf1 WHERE i = j
      |)""".stripMargin

  private lazy val pcaKSql: String =
    s"""$pcaKBase, ${(1 to 4).map(m => pcaKComponentCtes(m, deflateNext = m < 4)).mkString(", ")}
       |${(1 to 4).map(m =>
          s"SELECT CAST($m AS BIGINT) AS comp, CAST(v${m}8.i AS BIGINT) AS dim, " +
            s"round(sg.sg * v${m}8.x, 6) AS loading, l.eig AS eig, l.explained AS explained " +
            s"FROM v${m}8, sgn$m sg, lam$m l").mkString(" UNION ALL ")}""".stripMargin

  /** q_whiten's oracle: the full 4-component deflation unroll, then
    * the projection z = round6(Σ(x₆−μ₆)·v / √λ) per (vector,
    * component) and the whitened Gram/means aggregate — every sum in
    * exact DECIMAL, every divide IEEE, exactly the engine's grid.
    */
  /** The shared whitened-coordinate CTE chain: full 4-component
    * deflation unroll + the per-(vector, component) projection `z` —
    * the prefix of BOTH the q_whiten gram mirror and the whitened
    * SemDeDup mirror.
    */
  private lazy val whitenZCtes: String = {
    val comps = (1 to 4).map(m =>
      s"SELECT CAST($m AS BIGINT) AS m, v${m}8.i AS i, " +
        s"round(sg.sg * v${m}8.x, 6) AS cx, l.eig AS eig " +
        s"FROM v${m}8, sgn$m sg, lam$m l").mkString(" UNION ALL ")
    s"""$pcaKBase, ${(1 to 4).map(m => pcaKComponentCtes(m, deflateNext = m < 4)).mkString(", ")},
       |mu AS MATERIALIZED (
       |  SELECT i, round(CAST(s AS DOUBLE) / n, 6) AS mu FROM su, n1
       |), comps AS MATERIALIZED ($comps),
       |pw AS (SELECT vec_id, embedding AS v FROM embeddings),
       |z AS MATERIALIZED (
       |  SELECT pw.vec_id, c.m,
       |         round(CAST(SUM((CAST(round(CAST(pw.v[c.i] AS DOUBLE), 6) AS DECIMAL(12,6))
       |                         - CAST(mu.mu AS DECIMAL(12,6)))
       |                        * CAST(c.cx AS DECIMAL(12,6))) AS DOUBLE)
       |               / sqrt(max(c.eig)), 6) AS z
       |  FROM pw, comps c JOIN mu ON c.i = mu.i
       |  GROUP BY pw.vec_id, c.m
       |)""".stripMargin
  }

  private lazy val whitenSql: String =
    s"""$whitenZCtes
       |SELECT a.m AS comp_a, b.m AS comp_b, count(*) AS n,
       |       round(CAST(SUM(CAST(a.z AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_a,
       |       round(CAST(SUM(CAST(a.z AS DECIMAL(18,6)) * CAST(b.z AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS gram
       |FROM z a JOIN z b ON a.vec_id = b.vec_id AND a.m <= b.m
       |GROUP BY 1, 2""".stripMargin

  /** q_semdedup_whitened's oracle: the whitened chain above, then the
    * q_ann_eval assignment protocol IN WHITENED SPACE (first-16
    * centroids, 6dp cosine, cent_id tie-break) and the in-cell
    * smaller-id-mate discard set — the semdedupSql shape over z.
    */
  private lazy val semdedupWhitenedSql: String =
    s"""$whitenZCtes, zv AS (
       |  SELECT vec_id, list(z ORDER BY m) AS v FROM z GROUP BY vec_id
       |), zn AS (
       |  -- zero-norm contract: a vector AT the component means has no
       |  -- direction (engine filters norm > 0 identically)
       |  SELECT * FROM (
       |    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM zv
       |  ) WHERE norm > 0
       |), zc AS (
       |  SELECT vec_id AS cent_id, v AS cv, norm AS cn FROM zn WHERE vec_id < 16
       |), zs AS (
       |  SELECT zn.vec_id, zn.v, zn.norm, cent_id,
       |         round(list_sum(list_transform(range(1, len(zn.v)+1), i -> zn.v[i]*cv[i]))
       |               / (zn.norm * cn), 6) AS csim
       |  FROM zn, zc
       |), za AS (
       |  SELECT vec_id, v, norm, cent_id AS cell FROM zs
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) = 1
       |), zp AS (
       |  SELECT b.vec_id, b.cell,
       |         round(list_sum(list_transform(range(1, len(b.v)+1), i -> b.v[i]*a.v[i]))
       |               / (b.norm * a.norm), 6) AS sim
       |  FROM za a JOIN za b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |)
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell, max(sim) AS max_sim, count(*) AS n_dups
       |FROM zp WHERE sim >= 0.95
       |GROUP BY vec_id, cell""".stripMargin

  /** q_margin_pairs' oracle: the ENTIRE mining pipeline re-derived —
    * IVF assignment (deterministic first-16 centroids), probe cells and
    * candidate kNN in BOTH directions, 6dp-DECIMAL neighborhood
    * averages, and the margin ratio — so a candidate-generation or
    * margin-arithmetic bug on either side fails the hash.
    */
  private lazy val marginPairsSql: String = {
    // per-direction kNN CTEs: queries from label `ql`, candidates from
    // label `cl` — identical shape both ways
    def nnSql(tag: String, ql: Int, cl: Int): String =
      s"""probe$tag AS (
         |  SELECT c.vec_id AS qid, c.cent_id AS cell FROM csims c
         |  JOIN labs l ON c.vec_id = l.vec_id AND l.label = $ql
         |  QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY csim DESC, cent_id) <= 2
         |), q$tag AS (
         |  SELECT n.vec_id AS qid, v AS qv, norm AS qn
         |  FROM n JOIN labs USING (vec_id) WHERE label = $ql
         |), cand$tag AS (
         |  SELECT a.vec_id, a.v, a.norm, a.cell
         |  FROM assigned a JOIN labs USING (vec_id) WHERE label = $cl
         |), nn$tag AS MATERIALIZED (
         |  SELECT p.qid, b.vec_id,
         |         round(list_sum(list_transform(range(1, len(b.v)+1), i -> b.v[i]*q.qv[i]))
         |               / (b.norm * q.qn), 6) AS sim,
         |         row_number() OVER (PARTITION BY p.qid
         |                            ORDER BY round(list_sum(list_transform(range(1, len(b.v)+1), i -> b.v[i]*q.qv[i]))
         |                                           / (b.norm * q.qn), 6) DESC, b.vec_id) AS rank
         |  FROM cand$tag b JOIN probe$tag p ON b.cell = p.cell
         |  JOIN q$tag q ON p.qid = q.qid
         |  QUALIFY rank <= 4
         |), avg$tag AS (
         |  SELECT qid, round(CAST(SUM(CAST(sim AS DECIMAL(12,6))) AS DOUBLE) / count(*), 6) AS avg_sim
         |  FROM nn$tag GROUP BY 1
         |)""".stripMargin
    s"""$prepCte, cents AS (
       |  SELECT vec_id AS cent_id, v AS cv, norm AS cn FROM n WHERE vec_id < 16
       |), csims AS (
       |  SELECT n.vec_id, n.v, n.norm, cent_id,
       |         round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*cv[i]))
       |               / (norm * cn), 6) AS csim
       |  FROM n, cents
       |), assigned AS (
       |  SELECT vec_id, v, norm, cent_id AS cell FROM csims
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) = 1
       |), labs AS (SELECT vec_id, label FROM embeddings),
       |${nnSql("AB", ql = 0, cl = 1)},
       |${nnSql("BA", ql = 1, cl = 0)}
       |SELECT * FROM (
       |  SELECT ab.qid AS vec_a, ab.vec_id AS vec_b, ab.sim,
       |         round(2 * ab.sim / (a.avg_sim + b.avg_sim), 6) AS margin
       |  FROM nnAB ab
       |  JOIN avgAB a ON ab.qid = a.qid
       |  JOIN avgBA b ON ab.vec_id = b.qid)
       |WHERE margin >= 1.002""".stripMargin
  }

  /** q_ann_eval's oracle: BOTH retrieval pipelines (IVF with the
    * deterministic first-16 centroids; exact brute force) re-derived
    * from scratch, then the identical metric arithmetic — discounts and
    * IDCG are the same 12dp literals the engine folds in.
    */
  private lazy val annEvalSql: String = {
    val discCase = graft.operators.Similarity.ndcgDiscounts(10).zipWithIndex
      .map { case (d, idx) => s"WHEN ${idx + 1} THEN CAST('$d' AS DECIMAL(18,12))" }
      .mkString(" ")
    s"""$prepCte, cents AS (
       |  SELECT vec_id AS cent_id, v AS cv, norm AS cn FROM n WHERE vec_id < 16
       |), csims AS (
       |  SELECT n.vec_id, n.v, n.norm, cent_id,
       |         round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*cv[i]))
       |               / (norm * cn), 6) AS csim
       |  FROM n, cents
       |), assigned AS (
       |  SELECT vec_id, v, norm, cent_id AS cell FROM csims
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) = 1
       |), probe AS (
       |  SELECT vec_id AS qid, cent_id AS cell FROM csims WHERE vec_id < 10
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) <= 2
       |), qs AS (
       |  SELECT vec_id AS qid, v AS qv, norm AS qn FROM n WHERE vec_id < 10
       |), ascored AS (
       |  SELECT p.qid, a.vec_id,
       |         round(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*q.qv[i]))
       |               / (a.norm * q.qn), 6) AS sim
       |  FROM assigned a JOIN probe p ON a.cell = p.cell
       |  JOIN qs q ON p.qid = q.qid
       |  WHERE a.vec_id <> p.qid
       |), approx AS MATERIALIZED (
       |  SELECT qid, vec_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |  FROM ascored QUALIFY rank <= 10
       |), escored AS (
       |  SELECT q.qid, c.vec_id,
       |         round(list_sum(list_transform(range(1, len(c.v)+1), i -> c.v[i]*q.qv[i]))
       |               / (c.norm * q.qn), 6) AS sim
       |  FROM n c CROSS JOIN qs q WHERE c.vec_id <> q.qid
       |), exact AS MATERIALIZED (
       |  SELECT qid, vec_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS erank
       |  FROM escored QUALIFY erank <= 10
       |), j AS (
       |  SELECT a.qid, a.rank, e.erank
       |  FROM approx a LEFT JOIN exact e ON a.qid = e.qid AND a.vec_id = e.vec_id
       |)
       |SELECT qid, count(erank) AS n_hits,
       |       round(CAST(count(erank) AS DOUBLE) / 10, 6) AS recall,
       |       coalesce(max(CASE WHEN erank = 1
       |                         THEN round(CAST(1.0 AS DOUBLE) / rank, 6) END), 0.0) AS rr,
       |       round(CAST(coalesce(SUM(CASE WHEN erank IS NOT NULL
       |                     THEN CAST(11 - erank AS DECIMAL(18,6))
       |                          * (CASE rank $discCase END) END),
       |                   0) AS DOUBLE)
       |             / CAST('${graft.operators.Similarity.ndcgIdcg(10)}' AS DOUBLE), 6) AS ndcg
       |FROM j GROUP BY qid""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_ann_eval" -> annEvalSql,
    "q_embed_pca" -> pcaSql,
    "q_embed_pca_k" -> pcaKSql,
    "q_whiten" -> whitenSql,
    "q_semdedup_whitened" -> semdedupWhitenedSql,
    "q_margin_pairs" -> marginPairsSql,

    "q_knn_join" ->
      s"""$prepCte, qs AS (
         |  SELECT vec_id AS qid, v AS qv, norm AS qn FROM n WHERE vec_id < 10
         |), scored AS (
         |  SELECT q.qid, c.vec_id,
         |         round(list_sum(list_transform(range(1, len(c.v)+1), k -> c.v[k]*q.qv[k]))
         |               / (c.norm * q.qn), 6) AS sim
         |  FROM n c CROSS JOIN qs q WHERE c.vec_id <> q.qid
         |)
         |SELECT qid, vec_id, sim,
         |       CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
         |FROM scored QUALIFY rank <= 5""".stripMargin,

    "q_sim_topk" ->
      s"""$prepCte, q AS (
         |  SELECT v AS qv, norm AS qn FROM n WHERE vec_id = 0
         |)
         |SELECT vec_id,
         |       round(list_sum(list_transform(range(1, len(v)+1), k -> v[k]*qv[k]))
         |             / (norm * qn), 6) AS sim
         |FROM n, q WHERE vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // full PQ-ADC mirror: normalize → 8 subvectors → codebook from
    // vec_id < 32 → nearest codeword per (vector, subspace) by 6-dp
    // squared-L2 (ss + cc − 2·sc, id tie-break) → query dot table →
    // DECIMAL-summed estimate → pool of 100 → exact cosine re-rank
    "q_ann_pq" ->
      s"""$prepCte, pn AS (
         |  SELECT vec_id, list_transform(range(1, 65), i -> v[i] / norm) AS vn FROM n
         |), subs AS (
         |  SELECT vec_id, t.m, list_transform(range(1, 9), i -> vn[t.m * 8 + i]) AS sub
         |  FROM pn, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t(m)
         |), cb AS (
         |  SELECT m, vec_id AS cent_id, sub AS cw FROM subs WHERE vec_id < 32
         |), dists AS (
         |  SELECT s.vec_id, s.m, c.cent_id,
         |         round(list_sum(list_transform(range(1, 9), i -> s.sub[i] * s.sub[i]))
         |               + list_sum(list_transform(range(1, 9), i -> c.cw[i] * c.cw[i]))
         |               - 2 * list_sum(list_transform(range(1, 9), i -> s.sub[i] * c.cw[i])), 6) AS dist
         |  FROM subs s JOIN cb c USING (m)
         |  WHERE s.vec_id <> 0
         |), enc AS (
         |  SELECT vec_id, m, cent_id AS code FROM dists
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cent_id) = 1
         |), qd AS (
         |  SELECT c.m, c.cent_id,
         |         round(list_sum(list_transform(range(1, 9), i -> qs.sub[i] * c.cw[i])), 6) AS qdot
         |  FROM cb c JOIN (SELECT m, sub FROM subs WHERE vec_id = 0) qs USING (m)
         |), est AS (
         |  SELECT e.vec_id, CAST(SUM(CAST(qdot AS DECIMAL(18,6))) AS DOUBLE) AS est
         |  FROM enc e JOIN qd ON e.m = qd.m AND e.code = qd.cent_id
         |  GROUP BY e.vec_id
         |), pool AS (
         |  SELECT vec_id FROM est ORDER BY est DESC, vec_id LIMIT 100
         |), q AS (
         |  SELECT v AS qv, norm AS qn FROM n WHERE vec_id = 0
         |)
         |SELECT n.vec_id,
         |       round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*qv[i]))
         |             / (norm * qn), 6) AS sim
         |FROM n JOIN pool USING (vec_id), q
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_ivf" ->
      s"""$prepCte, cents AS (
         |  SELECT vec_id AS cent_id, v AS cv, norm AS cn FROM n WHERE vec_id < 16
         |), csims AS (
         |  SELECT n.vec_id, n.v, n.norm, cent_id,
         |         round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*cv[i]))
         |               / (norm * cn), 6) AS csim
         |  FROM n, cents
         |), assigned AS (
         |  SELECT vec_id, v, norm, cent_id AS cell FROM csims
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) = 1
         |), probe AS (
         |  SELECT cent_id AS cell FROM csims WHERE vec_id = 0
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) <= 2
         |), q AS (
         |  SELECT v AS qv, norm AS qn FROM n WHERE vec_id = 0
         |)
         |SELECT vec_id,
         |       round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*qv[i]))
         |             / (norm * qn), 6) AS sim
         |FROM assigned JOIN probe USING (cell), q
         |WHERE vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_ivf_trained" ->
      s"""$prepCte, c0 AS (
         |  SELECT vec_id AS cent_id, v AS cv, norm AS cn FROM n WHERE vec_id < 16
         |), ${lloydIterSql(0)}, ${lloydIterSql(1)}, sf AS (
         |  SELECT n.vec_id, n.v, n.norm, cent_id,
         |         round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*cv[i]))
         |               / (norm * cn), 6) AS csim
         |  FROM n, c2
         |), assigned AS (
         |  SELECT vec_id, v, norm, cent_id AS cell FROM sf
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) = 1
         |), probe AS (
         |  SELECT cent_id AS cell FROM sf WHERE vec_id = 0
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) <= 2
         |), q AS (
         |  SELECT v AS qv, norm AS qn FROM n WHERE vec_id = 0
         |)
         |SELECT vec_id,
         |       round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*qv[i]))
         |             / (norm * qn), 6) AS sim
         |FROM assigned JOIN probe USING (cell), q
         |WHERE vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_nn" ->
      s"""$prepCte, b AS (
         |  SELECT vec_id, v, norm, $signBucket AS bucket FROM n
         |), pairs AS (
         |  SELECT a.vec_id AS vec_id, b2.vec_id AS nn_id,
         |         round(list_sum(list_transform(range(1, len(a.v)+1), k -> a.v[k]*b2.v[k]))
         |               / (a.norm * b2.norm), 6) AS sim
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
         |)
         |SELECT vec_id, nn_id, sim FROM pairs
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id) = 1""".stripMargin,

    // the Spark side joins on exploded Hamming-1 probe keys (scale shape);
    // the oracle states the same SEMANTICS directly — candidates within
    // Hamming distance <= 1 of the vector's bucket — as an inequality join
    // over the per-position mismatch count (fine for an oracle, not a plan)
    "q_ann_nn_mp" ->
      s"""$prepCte, b AS (
         |  SELECT vec_id, v, norm, $signBucket AS bucket FROM n
         |), pairs AS (
         |  SELECT a.vec_id AS vec_id, b2.vec_id AS nn_id,
         |         round(list_sum(list_transform(range(1, len(a.v)+1), k -> a.v[k]*b2.v[k]))
         |               / (a.norm * b2.norm), 6) AS sim
         |  FROM b a JOIN b b2
         |    ON a.vec_id <> b2.vec_id
         |   AND (${(1 to 8).map(k =>
               s"(CASE WHEN substring(a.bucket,$k,1) <> substring(b2.bucket,$k,1) THEN 1 ELSE 0 END)")
               .mkString(" + ")}) <= 1
         |)
         |SELECT vec_id, nn_id, sim FROM pairs
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id) = 1""".stripMargin,

    "q_ann_ivfpq" -> ivfPqSql,
    // full-chain mirror: covariance diagonal (cf1 formula restricted to
    // i = j) → eigen-allocation permutation → rotated residual encode
    "q_ann_opq" -> opqSql,
    "q_mmr" -> mmrSql,

    // SemDeDup mirror: same trained assignment as q_ann_ivf_trained,
    // then the in-cell smaller-id pair pass with 6-dp cosines
    "q_semdedup" -> semdedupSql,

    "q_embed_dup" -> embedDupSql,

    // identical affine arithmetic text (scale spelled as
    // (mx − mn)/255.0 at every use), round-to-integer codes, per-dim
    // absolute errors 12-dp rounded into exact DECIMAL sums
    "q_int8_quant" ->
      """WITH p AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), ex AS (
        |  SELECT vec_id, u.x FROM p, unnest(v) AS u(x)
        |), mm AS (
        |  SELECT vec_id, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1
        |), e AS (
        |  SELECT ex.vec_id, x, mn, mx,
        |         CASE WHEN (mx - mn) / 255.0 = 0 THEN 0.0
        |              ELSE round((x - mn) / ((mx - mn) / 255.0), 0) END AS code
        |  FROM ex JOIN mm USING (vec_id)
        |), r AS (
        |  SELECT vec_id, mn, mx,
        |         CAST(round(abs(x - (mn + code * ((mx - mn) / 255.0))), 12) AS DECIMAL(27,12)) AS ae
        |  FROM e
        |)
        |SELECT vec_id, round(min(mn), 6) AS v_min, round(min(mx), 6) AS v_max,
        |       round(CAST(sum(ae) AS DOUBLE) / count(*), 6) AS mae,
        |       round(CAST(max(ae) AS DOUBLE), 6) AS max_ae
        |FROM r GROUP BY vec_id""".stripMargin,

    // q_knn_join's mirror with the label join and the label-mismatch
    // predicate; identical 6-dp cosine, identical (sim DESC, vec_id)
    // tie-break, rank ≤ 3
    "q_hard_negatives" ->
      s"""$prepCte, lab AS (
         |  SELECT vec_id, label FROM embeddings
         |), qs AS (
         |  SELECT n.vec_id AS qid, v AS qv, norm AS qn, l.label AS qlabel
         |  FROM n JOIN lab l USING (vec_id) WHERE n.vec_id < 10
         |), scored AS (
         |  SELECT q.qid, c.vec_id,
         |         round(list_sum(list_transform(range(1, len(c.v)+1), k -> c.v[k]*q.qv[k]))
         |               / (c.norm * q.qn), 6) AS sim
         |  FROM n c JOIN lab cl ON c.vec_id = cl.vec_id
         |  CROSS JOIN qs q
         |  WHERE c.vec_id <> q.qid AND cl.label <> q.qlabel
         |)
         |SELECT qid, vec_id, sim,
         |       CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
         |FROM scored QUALIFY rank <= 3""".stripMargin,

    // mirror of the engine's Lloyd-protocol centroid means (exact
    // DECIMAL(27,12) position sums / count, IEEE divide back) and the
    // sequential left-to-right dot/norm fold (list_sum ≡ the dot_f64
    // loop order), 6-dp rounded cosines
    "q_embed_drift" ->
      """WITH p AS (
        |  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), m AS (
        |  SELECT label, i AS pos,
        |         CAST(SUM(CAST(v[i] AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS m
        |  FROM p, range(1, 65) t(i) GROUP BY label, i
        |), c AS (
        |  SELECT label, list(m ORDER BY pos) AS cv FROM m GROUP BY label
        |), n AS (
        |  SELECT label, cv, sqrt(list_sum(list_transform(cv, x -> x*x))) AS cn FROM c
        |)
        |SELECT a.label AS label_a, b.label AS label_b,
        |       round(list_sum(list_transform(range(1, len(a.cv)+1), i -> a.cv[i]*b.cv[i]))
        |             / (a.cn * b.cn), 6) AS sim
        |FROM n a JOIN n b ON a.label < b.label""".stripMargin,
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Deduplication operators for large-scale corpus curation — exact,
  * MinHash-LSH near-dup (with n-gram-Jaccard verification), and SimHash
  * fingerprints. None of these exist in the reference (its R3 dedupe is
  * per-(term, doc) distinct inside the index build,
  * `reducer/src/processor.py:69-77`); they are the ⊕ LLM-pipeline
  * extensions from SURVEY §2.2.
  *
  * Scale design rules baked in:
  *   - NEVER all-pairs: near-dup candidates come from LSH band buckets
  *     (`groupBy(band, signature)`), so the join is linear in bucket mass,
  *     not quadratic in corpus size.
  *   - All hashing is built on `md5` over strings — a codegen'd built-in
  *     with identical output in any engine, which keeps every operator
  *     DuckDB-oracle-checkable bit-for-bit (no engine-private hash seeds).
  *   - Signatures are computed map-side in one projection per document;
  *     the only shuffles are the band-bucket exchange and the tiny
  *     candidate-pair verify join.
  */
object Dedup {

  /** Exact dedup on normalized text: fingerprint = md5(normalize(text)).
    * One shuffle (the fingerprint window); output marks every row with its
    * group's canonical (minimum) doc_id so callers can either filter
    * `is_dup` or keep the canonical representative.
    */
  def exact(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"), md5(Text.normalize(col("text"))).as("fp"))
    val w = Window.partitionBy("fp")
    fp.withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
  }

  /** Distinct word-n-gram shingle sets per document WITHOUT the
    * empty-set filter. Tokens are materialized in a projection BEFORE
    * shingling so the tokenizer runs once per row, not once per position.
    */
  private[operators] def rawShingleSets(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), Text.tokenize(col("text")).as("ts"))
      .select(col("doc_id"), array_distinct(Text.shinglesFromTokens(col("ts"), n)).as("sh"))

  /** Distinct word-n-gram shingle sets per document; documents shorter than
    * `n` tokens produce an empty set and are excluded (they cannot carry a
    * MinHash signature).
    *
    * CAUTION on composition: the `size(sh) > 0` predicate is deterministic,
    * so Catalyst will push it through a downstream `repartition` — and then
    * the full tokenize→shingle expression evaluates on the PRE-shuffle
    * partitioning (serially, if the input is one file). Pipelines that
    * repartition for CPU parallelism must filter AFTER a cache/shuffle
    * boundary — see `nearDuplicates`.
    */
  def shingleSets(docs: DataFrame, n: Int): DataFrame =
    rawShingleSets(docs, n).filter(size(col("sh")) > 0)

  /** Cross-source overlap matrix: shingle-level Jaccard between every
    * source pair — the corpus-composition diagnostic a curation
    * pipeline runs to find near-duplicate SOURCES (mirror sites, feed
    * overlap) before doc-level dedup.
    *
    * Scale bound: shingles present in MORE than `maxSourcesPerShingle`
    * sources are pruned before the pair join — they are boilerplate
    * (headers, license text, navigation) shared corpus-wide, the
    * shingle-level analogue of stopwords, and carry no discriminating
    * signal about which PAIR of sources mirrors which. Without the
    * prune the pair join's expansion is sources-per-shingle², i.e.
    * quadratic in source count the moment one boilerplate shingle
    * spans every source; with it, expansion per shingle is ≤ K² by
    * construction at ANY source cardinality. Sizes (and therefore the
    * Jaccard denominator) are computed over the PRUNED sets, so the
    * output is the exact Jaccard of the discriminating-shingle sets —
    * a deterministic, oracle-mirrorable definition, not an
    * approximation of the unpruned one. Remaining shape: distinct
    * (source, shingle) is corpus-mass map-side work; the pair join is
    * shingle-keyed (AQE-splittable); output is source-pairs-sized.
    */
  def sourceOverlap(docs: DataFrame, n: Int = 3,
                    maxSourcesPerShingle: Int = 12): DataFrame =
    // materialized ONCE behind a plan boundary: the pruned relation is
    // referenced three times (sizes + both pair-join sides) and the
    // tokenize→distinct→prune subtree would otherwise run per reference
    sourceOverlapFromShingles(
      materializeOnce(prunedSourceShingles(docs, n, maxSourcesPerShingle)))

  /** The pruned distinct (source, sh) relation [[sourceOverlap]] is
    * defined over — exposed so a pipeline (or the session store) can
    * persist it once per corpus and run the pair join many times; the
    * vocab aggregate + semi-join is the data-proportional part.
    */
  def prunedSourceShingles(docs: DataFrame, n: Int = 3,
                           maxSourcesPerShingle: Int = 12): DataFrame = {
    val sh0 = docs
      .select(col("source"),
        explode(graft.functions.Text.shinglesFromTokens(
          graft.functions.Text.tokenize(col("text")), n)).as("sh"))
      .distinct()
    val keep = sh0.groupBy("sh").agg(count(lit(1)).as("ns"))
      .filter(col("ns") <= maxSourcesPerShingle)
      .select("sh")
    sh0.join(keep, Seq("sh"), "left_semi")
  }

  /** [[sourceOverlap]]'s pair join + Jaccard over an already-built
    * pruned (source, sh) relation.
    */
  def sourceOverlapFromShingles(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    sh.select(col("source").as("source_a"), col("sh"))
      .join(sh.select(col("source").as("source_b"), col("sh")), "sh")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")), 6).as("jaccard"))
  }

  /** Benchmark DECONTAMINATION (⊕ LLM-pipeline): training documents that
    * share any word-n-gram with an evaluation/benchmark corpus, with the
    * count of distinct overlapping shingles — the standard pre-training
    * hygiene pass that keeps eval answers out of the training set (drop
    * or down-weight the returned doc_ids downstream).
    *
    * Scale shape: the benchmark side is eval-set-sized BY CONTRACT (eval
    * suites are thousands of documents, not billions) — its distinct
    * shingle relation is force-broadcast, so the training corpus is
    * tokenized map-side and joined without a shuffle; only the HIT rows
    * (contaminated-doc-sized, not corpus-sized) reach the per-doc
    * aggregate. Nothing is ever all-pairs. Both sides' shingle sets are
    * per-doc distinct, so the join has multiplicity 1 per (doc, shingle)
    * and a plain count IS the distinct overlap count.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 3): DataFrame =
    decontaminateFromShingles(shingleSets(docs, n), shingleSets(benchmark, n))

  /** `decontaminate` over pre-built (doc_id, sh) shingle frames — the form
    * a pipeline that already materialized its per-corpus shingle store
    * (e.g. `DedupStore.hashes`) should call, so the corpus is not
    * re-tokenized per decontamination pass. Each `sh` array must be
    * per-doc distinct (as `rawShingleSets` guarantees): that makes the
    * join multiplicity 1 per (doc, shingle), so the plain count IS the
    * distinct overlap count.
    */
  def decontaminateFromShingles(corpusShingles: DataFrame,
                                benchShingles: DataFrame): DataFrame = {
    val corpus = corpusShingles.select(col("doc_id"), explode(col("sh")).as("s"))
    val bench = benchShingles.select(explode(col("sh")).as("s")).distinct()
    corpus.join(broadcast(bench), Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Serialized Bloom filter over the benchmark's distinct shingles —
    * the compact form of the decontamination eval set. Built with
    * Spark's distributed sketch aggregation (`df.stat.bloomFilter`:
    * per-partition filters OR-merged, only the final bit array reaches
    * the driver), so the eval corpus itself never collects. ~19 bits per
    * shingle at fpp=1e-4 versus the full shingle STRINGS (~30+ bytes
    * each) the exact broadcast ships — the difference between a
    * multi-GB and a tens-of-MB eval-set broadcast when the benchmark
    * suite is large. Deterministic: fixed murmur3 seeds, OR-merge is
    * insertion-order-independent, and sizing depends only on the counted
    * distinct-shingle cardinality and fpp.
    */
  def benchShingleBloom(benchShingles: DataFrame, fpp: Double = 1e-4): Array[Byte] = {
    val bench = benchShingles.select(explode(col("sh")).as("s")).distinct()
    val n = math.max(bench.count(), 1L) // eval-set-sized action, sizes the bit array
    graft.plans.BloomContains.serialize(bench.stat.bloomFilter("s", n, fpp))
  }

  /** Bloom-filter decontamination (⊕ LLM-pipeline): the SAME contract as
    * `decontaminateFromShingles` — training docs sharing any shingle
    * with the benchmark, with overlap counts — but probabilistic with a
    * ONE-SIDED error: no false negatives ever (every truly contaminated
    * doc is flagged; Bloom `false` is definite), a bounded per-shingle
    * false-positive rate `fpp` (a clean doc with k shingles is
    * false-flagged with probability ≈ k·fpp — choose fpp accordingly;
    * the 1e-4 default keeps ~200-shingle docs around 2%). Flagged docs
    * are REVIEWED or dropped conservatively — over-removal at rate
    * k·fpp is the accepted trade for the broadcast shrink.
    *
    * Scale shape: the corpus side is ONE scan + a codegen'd map-side
    * `bloom_contains` probe — NO join at all (the exact variant's
    * broadcast-hash-join disappears); only flagged (doc, shingle) rows
    * reach the per-doc aggregate. The filter rides in the plan's
    * references array exactly like Spark's own runtime join filters.
    */
  def decontaminateBloom(corpusShingles: DataFrame, benchShingles: DataFrame,
                         fpp: Double = 1e-4): DataFrame =
    decontaminateBloomWith(corpusShingles, benchShingleBloom(benchShingles, fpp))

  /** `decontaminateBloom` over an ALREADY-BUILT serialized filter — the
    * form a pipeline maintaining its eval filter incrementally calls
    * (`StreamingSketch.Bloom.state`): the probe pass is identical, only
    * the filter's provenance differs.
    */
  def decontaminateBloomWith(corpusShingles: DataFrame,
                             filterBytes: Array[Byte]): DataFrame =
    corpusShingles.select(col("doc_id"), explode(col("sh")).as("s"))
      .filter(graft.plans.BloomContains.bloomContains(filterBytes, col("s")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_flagged"))

  /** Modulus and per-hash (multiplier, offset) for the universal-hash
    * family h_k(v) = (a_k·v + b_k) mod P. a_k < 2^20 keeps a·v+b < 2^52
    * for the 32-bit base values — no overflow in any engine's BIGINT.
    * Deterministic so the DuckDB oracle embeds the identical literals.
    */
  private[graft] val HashModulus: Long = 2147483647L
  private[graft] def hashParams(k: Int): (Long, Long) = {
    val a = ((2654435761L * (k + 1)) % 1048573L) | 1L
    val b = (40503L * (k + 7)) % 65521L
    (a, b)
  }

  /** One hex nibble of a hash string, decoded arithmetically. */
  private def nib(h: Column, i: Int): Column = {
    val c = ascii(substring(h, i, 1))
    when(c <= 57, c - 48).otherwise(c - 87)
  }

  /** 32-bit int from the first 8 hex chars. `h` must be an ATTRIBUTE or
    * lambda variable (each nibble re-references it). The accumulator is
    * long from the first step — 8 nibbles overflow a 32-bit int.
    */
  private def hex32(h: Column): Column =
    (2 to 8).map(nib(h, _))
      .foldLeft(nib(h, 1).cast("long"))((acc, n) => acc * 16 + n)

  /** One-permutation base hash values: ONE md5 per shingle, decoded to a
    * 32-bit int. All k minhashes derive from this array with cheap
    * multiply-mod arithmetic — k× less digest work than hashing every
    * shingle k times, which is the difference at 100 TB. Computed by the
    * native `md5_prefix32` expression (one codegen'd loop, one digest
    * instance per generated class) — the column form below is the
    * cross-check oracle.
    */
  def hashValues(shingles: DataFrame): DataFrame =
    shingles.withColumn("hv", graft.plans.Md5Prefix32.md5Prefix32(col("sh")))

  /** Pre-round-3 pure-column formulation of `hashValues` — two nested
    * CodegenFallback lambdas (~30 interpreted expression nodes per
    * shingle). Kept as the independent cross-check for `md5_prefix32`
    * (DedupProperties asserts bit-identical output).
    */
  private[graft] def hashValuesViaColumns(shingles: DataFrame): DataFrame =
    shingles.withColumn("hv",
      transform(transform(col("sh"), s => substring(md5(s), 1, 8)), h => hex32(h)))

  /** Banded MinHash signatures from a `hashValues` frame: band j's key
    * concatenates `bandSize` derived minhashes. Pure map-side arithmetic
    * over the `hv` array.
    *
    * Band size r is the collision-noise dial: two docs collide in band j
    * with probability J^r, so random pairs (J≈0) almost never collide
    * while true near-dups (J ≥ threshold) collide in some band with
    * probability 1-(1-J^r)^b. r=1 maximizes recall but buckets every pair
    * of docs sharing ONE min shingle — at corpus scale that floods the
    * candidate join; r=3, b=24 keeps recall ≈0.96 at J=0.5 with ~J³
    * false-candidate mass.
    *
    * NOTE: feed a CACHED/materialized `hashValues` output on hot paths —
    * adjacent projections otherwise collapse and the md5 pass is inlined
    * into every band's min-lambda (Catalyst does not CSE across lambdas).
    */
  def minhashBands(withHv: DataFrame, numBands: Int, bandSize: Int): DataFrame =
    withHv.select(col("doc_id"),
      posexplode(graft.plans.MinHashSigs.minhashSigs(col("hv"), numBands, bandSize))
        .as(Seq("band", "sig")))

  /** The pre-round-3 pure-column formulation of `minhashBands` — numBands
    * × bandSize `array_min(transform(...))` passes, each an interpreted
    * (CodegenFallback) lambda traversal in Spark 4.1. Kept as the
    * independent cross-check oracle for the native `minhash_sigs`
    * expression (DedupProperties asserts bit-identical output) and as
    * documentation of why the expression exists.
    */
  private[graft] def minhashBandsViaColumns(withHv: DataFrame, numBands: Int,
                                            bandSize: Int): DataFrame = {
    val bands = array((0 until numBands).map { j =>
      struct(
        lit(j).as("band"),
        concat_ws(",", (0 until bandSize).map { k =>
          val (a, b) = hashParams(j * bandSize + k)
          array_min(transform(col("hv"), v => (v * a + b) % HashModulus))
            .cast("string")
        }: _*).as("sig"))
    }: _*)
    withHv
      .select(col("doc_id"), explode(bands).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Default cap on in-buffer bucket expansion (`bucketPairs`). Buckets
    * up to this size expand inside one aggregation buffer row (≤ ~0.5M
    * pairs); larger ones route through the join path. Sized so a buffer
    * row stays well under a megabyte of ids.
    */
  private[graft] val MaxAggBucketSize = 1024

  /** Materialize a frame ONCE behind a plan boundary so multiple
    * consuming branches in one action don't race-recompute it. Uses a
    * RELIABLE checkpoint when the context has a checkpoint dir (the
    * cluster deployment — survives executor loss), falling back to
    * `localCheckpoint` for local runs. localCheckpoint BLOCKS are
    * released by the context cleaner when the frame goes out of scope;
    * reliable checkpoint FILES are only auto-deleted when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
    * false), so every durable checkpoint is RECORDED here and released
    * by `releaseCheckpoints` (explicit end-of-job call) or by the stale
    * sweep every `SessionStores.memo` miss runs — repeated cluster
    * invocations no longer leak checkpoint storage.
    */
  private[graft] def materializeOnce(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      recordCheckpointDir(df.sparkSession.sparkContext)
      df.checkpoint(true)
    } else df.localCheckpoint(true)

  /** Durable-checkpoint garbage registry. `SparkContext.setCheckpointDir`
    * appends a per-context UUID to the caller's base directory, so each
    * entry here is a directory holding ONLY this context's checkpoint
    * files — deleting it can never touch another job's checkpoints, and
    * once the owning context is stopped (or the caller says the dedup
    * relations are done) the files are unreachable garbage by
    * construction: checkpoint files are only readable through the RDD
    * lineage of the context that wrote them.
    */
  private val ckptRegistry =
    new java.util.concurrent.ConcurrentHashMap[
      String,
      (java.lang.ref.WeakReference[org.apache.spark.SparkContext],
        org.apache.hadoop.conf.Configuration)]()

  private def recordCheckpointDir(sc: org.apache.spark.SparkContext): Unit =
    sc.getCheckpointDir.foreach { d =>
      ckptRegistry.putIfAbsent(d,
        (new java.lang.ref.WeakReference(sc), sc.hadoopConfiguration))
    }

  /** Delete the recorded checkpoint directories of THIS context, plus
    * any whose context is gone.
    *
    * SCOPE WARNING — this deletes the context's WHOLE checkpoint subdir
    * (`sc.getCheckpointDir`), which is shared by every reliable
    * checkpoint the context ever wrote, not only dedup's: call it only
    * when NO checkpointed data of this context is needed again (end of
    * job), and prefer `SessionStores.release(spark)`, which first drops
    * the session's memoized relations whose lineage depends on these
    * files — releasing under a live memo would leave cached frames
    * backed by deleted checkpoints (FileNotFoundException on any block
    * recompute).
    */
  def releaseCheckpoints(spark: org.apache.spark.sql.SparkSession): Unit =
    releaseWhere { ref =>
      val sc = ref.get
      sc == null || sc.isStopped || sc.eq(spark.sparkContext)
    }

  /** Delete recorded checkpoint dirs whose owning context is stopped or
    * collected — the sweep every `SessionStores.memo` miss runs.
    */
  private[graft] def releaseStaleCheckpoints(): Unit =
    releaseWhere { ref =>
      val sc = ref.get
      sc == null || sc.isStopped
    }

  private def releaseWhere(
      pred: java.lang.ref.WeakReference[org.apache.spark.SparkContext] => Boolean): Unit = {
    val it = ckptRegistry.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (pred(e.getValue._1)) {
        // unregister ONLY after a successful delete (false = already
        // gone, also fine) — a transient FS failure keeps the entry so
        // the next sweep retries instead of leaking the directory
        try {
          val p = new org.apache.hadoop.fs.Path(e.getKey)
          p.getFileSystem(e.getValue._2).delete(p, true)
          it.remove()
        } catch { case _: Exception => } // kept; re-attempted next sweep
      }
    }
  }

  /** All within-bucket candidate pairs (x, y), x < y, of a bucketed
    * relation — with BOUNDED task memory on degenerate buckets.
    *
    * A single `groupBy(keys).agg(collect_list)` holds an entire bucket's
    * membership in ONE aggregation buffer row: correct until a templated/
    * boilerplate corpus (exactly what a web crawl contains) produces a
    * mega-bucket, then it is an executor-memory bomb. Hybrid expansion
    * keeps both properties:
    *   - buckets ≤ `cap` members: `collect_list` + double-explode — one
    *     aggregation that reuses the window's hash partitioning, buffer
    *     rows bounded by `cap`;
    *   - buckets > `cap`: equi-self-join on the bucket key — a shuffle
    *     join AQE can skew-split across tasks; per-task memory stays flat
    *     no matter the bucket size (the pair OUTPUT is inherently
    *     quadratic in the bucket — that belongs to the caller's
    *     semantics, not to one task's buffer).
    * The pair SET is identical to the naive expansion (DedupSpec asserts
    * cap-invariance); callers apply their own verify filter and
    * `distinct` (pairs re-found via several buckets are emitted again).
    *
    * The windowed size count is materialized once (`materializeOnce`) so
    * the three consuming branches don't re-run the signature pipeline.
    *
    * @param payload column whose values are paired; ordering on it must
    *        identify rows (an id, or a struct whose FIRST field is one)
    */
  private[operators] def bucketPairs(bucketed: DataFrame, keyCols: Seq[String],
                                     payload: String, cap: Int): DataFrame = {
    require(cap > 1, s"bucket cap must exceed 1, got $cap")
    val kcols = keyCols.map(col)
    val sized = materializeOnce(bucketed.withColumn("_bn",
      count(lit(1)).over(Window.partitionBy(kcols: _*))))
    val small = sized.filter(col("_bn") > 1 && col("_bn") <= cap)
      .groupBy(kcols: _*)
      .agg(collect_list(col(payload)).as("xs"))
      .select(explode(col("xs")).as("x"), col("xs"))
      .select(col("x"), explode(col("xs")).as("y"))
      .select(col("x"), col("y"))
    val big = sized.filter(col("_bn") > cap)
    val pairs = big.select(kcols :+ col(payload).as("x"): _*).alias("pa")
      .join(big.select(kcols :+ col(payload).as("y"): _*).alias("pb"), keyCols)
      .select(col("x"), col("y"))
    small.union(pairs).filter(col("x") < col("y"))
  }

  /** Near-duplicate pairs via MinHash-LSH + exact n-gram-Jaccard verify.
    *
    * 1. bucket: docs sharing any band signature become candidates
    *    (within-bucket expansion via `bucketPairs` — never all-pairs,
    *    never an unbounded aggregation buffer);
    * 2. verify: exact Jaccard over the distinct shingle sets, keep pairs
    *    ≥ `threshold`.
    */
  /** The narrow (doc_id, sh, hv) shingle + base-hash projection every
    * shingle-flavored dedup path starts from — re-balanced across the
    * cluster (signature hashing is CPU-bound and must not inherit a
    * too-coarse file split). NOT materialized: single-shot callers wrap
    * it in `materializeOnce`; session-shared consumers persist it once
    * (`DedupQueries.DedupStore.hashes`) so LSH and jaccard dedup pay the
    * tokenize→shingle→md5 pass exactly once per corpus.
    */
  def shingleHashFrame(docs: DataFrame, n: Int = 3): DataFrame =
    hashValues(rawShingleSets(docs.repartition(col("doc_id")), n))

  def nearDuplicates(docs: DataFrame, n: Int = 3, numBands: Int = 24,
                     bandSize: Int = 3, threshold: Double = 0.5,
                     maxAggBucket: Int = MaxAggBucketSize): DataFrame =
    nearDuplicatesFromHashes(materializeOnce(shingleHashFrame(docs, n)),
      numBands, bandSize, threshold, maxAggBucket)

  /** `nearDuplicates` over a pre-built `shingleHashFrame` that is ALREADY
    * materialized (checkpointed or persisted+counted) — it feeds the
    * signature pass and the two verify-join legs, and without a plan
    * boundary the branches race and each recomputes the whole pipeline.
    */
  def nearDuplicatesFromHashes(shAll: DataFrame, numBands: Int = 24,
                               bandSize: Int = 3, threshold: Double = 0.5,
                               maxAggBucket: Int = MaxAggBucketSize): DataFrame = {
    val sh = shAll.filter(size(col("sh")) > 0)
    val cands = bucketPairs(minhashBands(sh, numBands, bandSize),
        Seq("band", "sig"), "doc_id", maxAggBucket)
      .select(col("x").as("doc_a"), col("y").as("doc_b"))
      .distinct()
    verifyJaccard(cands, sh, threshold)
  }

  /** Exact-Jaccard verification of a candidate (doc_a, doc_b) relation
    * against the distinct shingle sets in `sh`.
    *
    * Verify is where candidate-based dedup spends its time (one
    * `array_intersect` over two ~100-element sets per pair), so two
    * sound reductions are built in:
    *   - SIZE PRUNE first: J = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|),
    *     so pairs whose set-size ratio is under the threshold can never
    *     verify — they are dropped after joining only the NARROW
    *     (doc_id, size) relation, before any array payload is shuffled;
    *   - no `array_union`: |A∪B| = |A| + |B| − |A∩B|, so the union
    *     array is never materialized — one set operation per pair, not
    *     two. Arithmetically identical to intersect/union on distinct
    *     sets (the DuckDB oracles keep the textbook form).
    */
  private[graft] def verifyJaccard(cands: DataFrame, sh: DataFrame,
                                   threshold: Double): DataFrame =
    verifyJaccardImpl(cands.withColumn("_rv", lit(false)), sh, threshold)

  /** `verifyJaccard` over a pair relation carrying a boolean `_rv`
    * (re-verification) column: `_rv = true` rows BYPASS both the
    * size-prune and the threshold filter — every such pair returns with
    * its exact jaccard, below-threshold included. This is the streaming
    * re-verify contract (a re-verified jaccard that FELL below the sink
    * threshold is a dissolution marker the pair store must record)
    * folded into the SAME plan as new-candidate verification, so one
    * micro-batch runs ONE verify DAG over the shingle store instead of
    * two — the job-count fold the local-scheduler-bound ingest profile
    * asked for (BASELINE.md build-cost note).
    */
  private[graft] def verifyJaccardResend(cands: DataFrame, sh: DataFrame,
                                         threshold: Double): DataFrame =
    verifyJaccardImpl(cands, sh, threshold)

  private def verifyJaccardImpl(cands: DataFrame, sh: DataFrame,
                                threshold: Double): DataFrame = {
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("_n"))
    cands
      .join(sizes.select(col("doc_id").as("doc_a"), col("_n").as("_na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("_n").as("_nb")), "doc_b")
      // 1e-6 slack: the final filter compares round(J, 6), which can
      // round a just-under-threshold J UP to it — the prune must keep
      // any pair the rounded filter could keep
      .filter(col("_rv") || least(col("_na"), col("_nb")).cast("double") >=
        greatest(col("_na"), col("_nb")) * (threshold - 1e-6))
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .withColumn("_inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      // try_divide + coalesce(·, 0): when BOTH endpoints shingle empty
      // the quotient is 0/0 (an ANSI divide-by-zero error as a plain
      // `/`) — reachable only from the streaming re-verify path (batch
      // candidates are pre-filtered to size > 0), where a doc below the
      // shingle width is BY DEFINITION not a duplicate of anything, so
      // its re-verified jaccard must be a recorded 0 (a dissolution
      // marker), not a silently dropped row or a failed task
      .select(col("doc_a"), col("doc_b"),
        coalesce(
          round(try_divide(col("_inter"), col("_na") + col("_nb") - col("_inter")), 6),
          lit(0.0)).as("jaccard"),
        col("_rv"))
      .filter(col("_rv") || col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram-Jaccard near-duplicate pairs with RARE-SHINGLE
    * candidate generation — the inverted-index-flavored alternative to
    * MinHash-LSH bucketing (`nearDuplicates`): two documents become
    * candidates when they share at least `minSharedRare` shingles whose
    * document frequency is in [2, `maxDf`], then every candidate pair is
    * verified with the exact Jaccard over the full distinct shingle sets.
    *
    * `minSharedRare` is the verify-mass dial — verify cost is the whole
    * cost of this operator: with the 1-shingle rule most candidates share
    * exactly one rare shingle and fail verification (~450k verifies for
    * ~25 true pairs at sf0.1). A pair at J ≥ 0.5 shares |A∩B| ≥
    * max(|A|,|B|)/2 shingles, so requiring 2 of them to be rare only
    * misses pairs whose shared set is almost entirely high-df
    * boilerplate — the same pairs the maxDf dial already deprioritizes.
    * The count reuses the shuffle the old DISTINCT needed anyway: same
    * exchange, ~two orders of magnitude fewer verify joins.
    * The DEFAULT stays 1 for API stability: raising it is a (small,
    * quantifiable) recall change, so callers opt in — the engine's own
    * `q_jaccard_pairs` runs with 2, validated pair-for-pair against the
    * minSharedRare=1 oracle at two scale factors.
    *
    * SHORT-DOC GUARD: the requirement is `min(minSharedRare, |A|, |B|)`
    * — a document with a single distinct shingle can never share two,
    * and the |A∩B| ≥ max/2 argument needs ≥4 shingles; without the
    * bound, two IDENTICAL 3-token documents (one shingle, J = 1.0)
    * would be silently undetectable. The size join is against the
    * narrow per-doc shingle-count relation, before any array payload
    * moves.
    *
    * `maxDf` is the recall/cost dial: boilerplate shingles shared by
    * half the corpus generate quadratic candidate mass and are dropped —
    * a pair sharing ONLY ubiquitous shingles is missed (at J ≥ 0.5 such
    * pairs share many shingles, and all of them being frequent means the
    * docs are boilerplate anyway — exactly what LSH banding also
    * deprioritizes). Unlike MinHash the verify set is EXACT for every
    * pair that shares at least one rare shingle: no banding
    * probability, no hash collisions.
    *
    * Scale shape: one shingle explode, a doc-frequency COUNT aggregate
    * (map-side partial, bounded buffers), an equi-join that keeps only
    * rare-shingle rows, then in-bucket expansion whose aggregation
    * buffer is bounded by `maxDf` BY CONSTRUCTION — the df filter is the
    * bucket cap, so none of `bucketPairs`' hybrid machinery (window
    * count, checkpoint, over-cap join) is needed here. No sorts, no
    * all-pairs, no unbounded buffer.
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3, maxDf: Int = 10,
                   threshold: Double = 0.5, minSharedRare: Int = 1): DataFrame =
    jaccardPairsFromShingles(materializeOnce(shingleHashFrame(docs, n)),
      maxDf, threshold, minSharedRare)

  /** `jaccardPairs` over a pre-built, already-materialized
    * `shingleHashFrame` (see `nearDuplicatesFromHashes` for why).
    */
  def jaccardPairsFromShingles(shAll: DataFrame, maxDf: Int = 10,
                               threshold: Double = 0.5,
                               minSharedRare: Int = 1): DataFrame = {
    val sh = shAll.filter(size(col("sh")) > 0)
    verifyJaccard(rareShingleCandidates(sh, maxDf, minSharedRare), sh, threshold)
  }

  /** Rare-shingle candidate pairs — the generation stage shared by the
    * Jaccard and containment verifiers: two docs become candidates when
    * they share ≥ `minSharedRare` shingles with document frequency in
    * [2, maxDf]. The shared-rare-shingle count replaces a DISTINCT:
    * identical shuffle (hash partition on the pair), but the
    * HAVING-style filter drops the share-exactly-one-rare-shingle mass
    * before any verify join moves array payload; the requirement is
    * capped by each doc's own shingle count (short-doc guard is the
    * caller's `size(sh) > 0` filter). collect_list is bounded by maxDf
    * BY CONSTRUCTION (the rare join).
    */
  private[graft] def rareShingleCandidates(sh: DataFrame, maxDf: Int,
                                           minSharedRare: Int): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val rare = ex.groupBy("shingle")
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxDf)
      .select("shingle")
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("_ns"))
    ex.join(rare, "shingle")
      .groupBy("shingle")
      .agg(collect_list(col("doc_id")).as("ids")) // ≤ maxDf by the join
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("_shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("_ns").as("_sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("_ns").as("_sb")), "doc_b")
      .filter(col("_shared") >= least(lit(minSharedRare), col("_sa"), col("_sb")))
      .select("doc_a", "doc_b")
  }

  /** CONTAINMENT pairs — the asymmetric overlap near-dup Jaccard
    * misses: containment(A→B) = |A∩B|/|A| ≈ 1 when doc A is quoted or
    * embedded inside a larger doc B, while their Jaccard can be
    * arbitrarily small (|A|/|B|). The standard curation signal for
    * "document X is a subset of document Y — keep one".
    *
    * Same rare-shingle candidate generation as the Jaccard pipeline,
    * but the verify stage deliberately has NO size-ratio prune — that
    * prune encodes J ≤ min/max, which is exactly the asymmetric mass
    * containment exists to keep. Output carries both directions
    * (cont_a = coverage of A, cont_b = coverage of B), kept when either
    * reaches `threshold`; 6-dp rounding per the float-parity rule.
    */
  def containmentPairsFromShingles(shAll: DataFrame, maxDf: Int = 10,
                                   threshold: Double = 0.8,
                                   minSharedRare: Int = 2): DataFrame = {
    val sh = shAll.filter(size(col("sh")) > 0)
    containmentFromCandidates(
      rareShingleCandidates(sh, maxDf, minSharedRare), sh, threshold)
  }

  /** The containment VERIFY stage over an already-generated candidate
    * relation — the form callers sharing one candidate pass with the
    * Jaccard verifier use (`DedupQueries.DedupStore.rareCandidates`).
    */
  private[graft] def containmentFromCandidates(cands: DataFrame, sh: DataFrame,
                                               threshold: Double): DataFrame =
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .withColumn("_inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        round(col("_inter") / size(col("sa")), 6).as("cont_a"),
        round(col("_inter") / size(col("sb")), 6).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)

  /** Transitive duplicate clusters: connected components over an
    * undirected pair relation (`doc_a`, `doc_b`), labeling every member
    * with the MINIMUM doc_id of its component — the actionable form of
    * near-dup output (keep one representative per cluster).
    *
    * Algorithm: min-label propagation with POINTER JUMPING. Each
    * iteration propagates labels along graph edges AND along the current
    * label assignment itself (node → its label's label), which doubles
    * the reach per step — O(log diameter) iterations even on chain-shaped
    * components, vs O(diameter) for plain propagation.
    *
    * Iteration cost discipline (the 100 TB concern is fixed per-round
    * latency × rounds):
    *   - ONE driver action per iteration: the convergence checksum's
    *     action also materializes the lazily-marked checkpoint;
    *   - the label relation is repartitioned to match ITS size, not the
    *     session-wide shuffle width, so a tiny relation doesn't pay
    *     full-width shuffle latency every round;
    *   - the convergence witness is a DECIMAL(38) sum of labels (labels
    *     only ever decrease, so the sum strictly decreases until
    *     fixpoint) — no BIGINT overflow on huge id spaces;
    *   - lineage is truncated per iteration via `checkpoint` when the
    *     session has a durable checkpoint dir (the cluster deployment),
    *     falling back to `localCheckpoint` for local runs.
    *
    * Output: (doc_id, cluster_id) for every doc that appears in a pair.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("doc_a"), col("doc_b"))
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    try {
      val edgeCount = sym.count() // materializes the cache; also the empty gate
      if (edgeCount == 0) {
        // no pairs → no clusters; an agg over the empty frame would yield a
        // single null row (sum of nothing) and NPE downstream
        import spark.implicits._
        return spark.emptyDataset[(Long, Long)].toDF("doc_id", "cluster_id")
      }
      val durable = spark.sparkContext.getCheckpointDir.isDefined
      if (durable) recordCheckpointDir(spark.sparkContext)
      def truncate(df: DataFrame): DataFrame =
        if (durable) df.checkpoint(false) else df.localCheckpoint(false)
      def checksum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
          .head().getDecimal(0)
      // size the label relation's partitioning to the edge count — ~500k
      // labels per partition — instead of the session shuffle width
      val parts = math.max(1, math.min(
        spark.sparkContext.defaultParallelism, (edgeCount / 500000L).toInt + 1))
      // same truncation discipline as the loop: on the durable branch the
      // INITIAL label relation must also be a reliable checkpoint (an
      // executor loss would silently lose localCheckpoint blocks mid-job);
      // the following checksum action materializes the lazy mark
      var labels = truncate(sym.select(col("src").as("node")).distinct()
        .repartition(parts, col("node"))
        .withColumn("label", col("node")))
      var prev = checksum(labels)
      var converged = false
      while (!converged) {
        val prop = labels.join(sym, labels("node") === sym("src"))
          .select(col("dst").as("node"), col("label"))
        val jump = labels.as("a")
          .join(labels.as("b"), col("a.label") === col("b.node"))
          .select(col("a.node").as("node"), col("b.label").as("label"))
        // repartition BEFORE the groupBy: the aggregate's distribution
        // requirement is satisfied by the explicit hash partitioning, so
        // the iteration has exactly one exchange, at the label relation's
        // own width
        val next = truncate(
          labels.union(prop).union(jump)
            .repartition(parts, col("node"))
            .groupBy("node").agg(min("label").as("label")))
        val cur = checksum(next) // one action: materializes checkpoint + sum
        labels = next
        converged = cur.compareTo(prev) == 0
        prev = cur
      }
      labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
    } finally sym.unpersist(): Unit
  }

  /** Near-dup clusters straight from a corpus: MinHash-LSH pairs →
    * connected components.
    */
  def duplicateClusters(docs: DataFrame, n: Int = 3, numBands: Int = 24,
                        bandSize: Int = 3, threshold: Double = 0.5): DataFrame =
    clusters(nearDuplicates(docs, n, numBands, bandSize, threshold))

  /** SimHash near-dup pairs: band the 64-bit fingerprint into four
    * 16-bit chunks; by pigeonhole, any pair within Hamming distance 3
    * agrees on at least one chunk, so chunk-bucketing finds ALL such
    * pairs without an all-pairs comparison. Verification runs the native
    * `hamming_hex` Catalyst expression (graft.plans.HammingHex) — a
    * scalar codegen'd bit count, no per-pair explode/aggregate.
    *
    * Fingerprints ride along through the bucket aggregation so the
    * verify step needs no join back to the fingerprint relation.
    */
  def simhashPairs(docs: DataFrame, maxDistance: Int = 3,
                   maxAggBucket: Int = MaxAggBucketSize): DataFrame =
    hammingPairs(simhash(docs), "simhash", maxDistance, maxAggBucket)

  /** Banded Hamming near-dup pairs over ANY 64-bit (16-hex-char)
    * fingerprint relation `(doc_id, <hashCol>)` — the machinery behind
    * [[simhashPairs]] (text fingerprints) and the perceptual
    * image-dedup query (dHash fingerprints): pigeonhole banding into
    * `maxDistance + 1` chunks (a pair at distance ≤ d differs in at
    * most d chunks, so it must AGREE on ≥ 1 of d+1 — exact recall,
    * never all-pairs), capped within-bucket expansion via
    * `bucketPairs`, codegen'd `hamming_hex` verify. The chunk count is
    * sized TO the distance for selectivity, not just recall: at d = 1
    * two 32-bit chunks make bucket agreement far rarer than the d = 3
    * scheme's 16-bit chunks over similar fingerprints (DedupSpec pins
    * recall and the candidate-mass gap per distance).
    */
  def hammingPairs(fp: DataFrame, hashCol: String, maxDistance: Int = 3,
                   maxAggBucket: Int = MaxAggBucketSize): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 3,
      "banding supports distances 0..3 (larger distances degrade to corpus-wide buckets)")
    val n = maxDistance + 1
    val bounds = (0 to n).map(i => 16 * i / n) // split points in hex chars
    val chunks = fp.select(
      posexplode(array((0 until n).map(c =>
        substring(col(hashCol), bounds(c) + 1, bounds(c + 1) - bounds(c))): _*))
        .as(Seq("ci", "chunk")),
      struct(col("doc_id"), col(hashCol).as("fp")).as("v"))
    // fingerprints ride along inside the payload struct so the verify
    // step needs no join back to the fingerprint relation; the struct's
    // FIRST field is doc_id, so bucketPairs' x < y ordering is the
    // doc_a < doc_b canonicalization
    bucketPairs(chunks, Seq("ci", "chunk"), "v", maxAggBucket)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        graft.plans.HammingHex.hammingHex(col("x.fp"), col("y.fp")).as("hamming"))
      // verify BEFORE dedup: hamming is a cheap codegen'd scalar, so
      // filtering first shrinks the distinct's shuffle to the matches
      // (a pair re-found via several chunks costs re-evaluation, not I/O)
      .filter(col("hamming") <= maxDistance)
      .distinct()
  }

  /** Frame-SEQUENCE perceptual near-dup pairs — the video-shaped
    * extension of [[hammingPairs]] (r15 ask #4): input is one 64-bit
    * perceptual hash PER SAMPLED FRAME, `(clip_id, frame, <hashCol>)`
    * (the `Multimodal.frameSample` × `dHashes` composition), and two
    * clips are near-dups when a MAJORITY of their positionally-aligned
    * frames match within `maxDistance` bits — tolerant to a locally
    * edited frame, which whole-payload hashing is not.
    *
    * Never all-pairs, at either stage: CANDIDATES band each frame's
    * hash into `maxDistance + 1` pigeonhole chunks keyed by
    * (frame, chunk-index, chunk) — any pair whose frame f matches
    * within the distance collides on ≥ 1 of f's chunks, and a pair
    * needs `minMatchedFrames` matching frames, so per-frame recall
    * already over-covers the sequence rule — then expand through the
    * capped [[bucketPairs]] (mega-bucket safe). VERIFY re-joins the
    * k frame hashes of both clips positionally (clip-keyed equi-joins,
    * AQE-splittable), scores each frame with the codegen'd
    * `hamming_hex`, and keeps pairs with ≥ `minMatchedFrames` matches.
    * Returns (clip_a, clip_b, matched_frames).
    */
  def clipPairs(fp: DataFrame, hashCol: String, maxDistance: Int = 3,
                minMatchedFrames: Int = 3,
                maxAggBucket: Int = MaxAggBucketSize): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 3,
      "banding supports distances 0..3 (larger distances degrade to corpus-wide buckets)")
    require(minMatchedFrames >= 1)
    val n = maxDistance + 1
    val bounds = (0 to n).map(i => 16 * i / n)
    val chunks = fp.select(col("frame"),
      posexplode(array((0 until n).map(c =>
        substring(col(hashCol), bounds(c) + 1, bounds(c + 1) - bounds(c))): _*))
        .as(Seq("ci", "chunk")),
      col("clip_id").as("v"))
    // distinct BEFORE the verify joins: a pair re-found via several
    // (frame, chunk) buckets must not multiply the join mass
    val cands = bucketPairs(chunks, Seq("frame", "ci", "chunk"), "v", maxAggBucket)
      .select(col("x").as("clip_a"), col("y").as("clip_b"))
      .distinct()
    val fa = fp.select(col("clip_id").as("clip_a"), col("frame"),
      col(hashCol).as("ha"))
    val fb = fp.select(col("clip_id").as("clip_b"), col("frame"),
      col(hashCol).as("hb"))
    cands.join(fa, "clip_a").join(fb, Seq("clip_b", "frame"))
      .select(col("clip_a"), col("clip_b"),
        when(graft.plans.HammingHex.hammingHex(col("ha"), col("hb"))
          <= maxDistance, 1L).otherwise(0L).as("m"))
      .groupBy("clip_a", "clip_b")
      .agg(sum(col("m")).as("matched_frames"))
      .filter(col("matched_frames") >= minMatchedFrames)
  }

  /** 64-bit SimHash fingerprint per document as a 16-char hex string.
    *
    * Per distinct term: take the first 16 hex nibbles of md5(term) (64
    * bits). Per bit position: majority vote across the document's terms
    * (strict majority sets the bit; ties clear it). Computed by the
    * native `simhash_hex` expression — one codegen'd pass per document,
    * ZERO shuffles (the whole fingerprint stage is a narrow projection).
    * Documents with no terms produce no row, matching the aggregation
    * form (`simhashViaAgg`, kept as the independent cross-check —
    * DedupSpec asserts corpus-level bit-identity).
    */
  def simhash(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.plans.SimHashHex.simhashHex(Text.terms(col("text"))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Pre-round-4 relational formulation of `simhash` — explodes every
    * document into |terms| × 16 nibble rows and majority-votes in a
    * groupBy: a 16× shuffle amplification the native expression avoids.
    * Kept as the independent cross-check oracle for `simhash_hex` and as
    * the shape the DuckDB oracle SQL mirrors.
    */
  private[graft] def simhashViaAgg(docs: DataFrame): DataFrame = {
    val hexChars = "0123456789abcdef"
    val perTerm = docs
      .select(col("doc_id"), explode(Text.terms(col("text"))).as("term"))
      .select(col("doc_id"), substring(md5(col("term")), 1, 16).as("h"))
    // nibble value 0..15 of this term at hex position p, decoded from the
    // ascii code of the hex char ('0'-'9' → 0-9, 'a'-'f' → 10-15).
    val withV = perTerm
      .select(col("doc_id"), explode(sequence(lit(0), lit(15))).as("p"), col("h"))
      .withColumn("c", ascii(col("h").substr(col("p") + 1, lit(1))))
      .withColumn("v", when(col("c") <= 57, col("c") - 48).otherwise(col("c") - 87))
    val agg = withV.groupBy("doc_id", "p").agg(
      count(lit(1)).as("n"),
      sum(floor(col("v") / 8) % 2).as("s3"),
      sum(floor(col("v") / 4) % 2).as("s2"),
      sum(floor(col("v") / 2) % 2).as("s1"),
      sum(col("v") % 2).as("s0"))
    def bit(s: Column, n: Column): Column = when(s * 2 > n, 1).otherwise(0)
    val nib = agg.select(col("doc_id"), col("p"),
      (bit(col("s3"), col("n")) * 8 + bit(col("s2"), col("n")) * 4 +
        bit(col("s1"), col("n")) * 2 + bit(col("s0"), col("n"))).as("nv"))
    nib
      .select(col("doc_id"), struct(col("p"), lit(hexChars).substr(col("nv") + 1, lit(1)).as("c")).as("pc"))
      .groupBy("doc_id")
      .agg(array_join(transform(sort_array(collect_list(col("pc"))), x => x.getField("c")), "")
        .as("simhash"))
  }
}

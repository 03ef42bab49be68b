package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.operators.Dedup

/** Incremental MinHash-LSH near-duplicate detection over a DOCUMENT
  * STREAM — the streaming twin of the batch `Dedup.nearDuplicates`
  * pipeline (whose output is the oracle-checked `q_dedup_near`).
  *
  * A training-data ingest pipeline doesn't receive its corpus at once:
  * documents arrive continuously, and re-running the full LSH build per
  * batch is O(corpus) work per micro-batch. The incremental contract
  * keeps per-batch work proportional to the BATCH, not the corpus:
  *
  *   - per micro-batch, the CPU-heavy tokenize→shingle→md5 pass and the
  *     band signatures are computed for the NEW documents only;
  *   - new-vs-corpus candidates come from an equi-join of the new
  *     batch's band signatures against the accumulated signature store —
  *     the batch side is micro-batch-sized, so the join broadcasts it
  *     and the store is scanned once with only (band, sig, doc_id)
  *     read, never shuffled;
  *   - exact Jaccard verification (`Dedup.verifyJaccard` — the same
  *     size-prune + no-array_union arithmetic as batch) reads only the
  *     candidate docs' shingle sets from the hash store (candidate pairs
  *     are few, so the verify joins broadcast them);
  *   - discovered pairs append to a pair store; a pair (a, b) is found
  *     exactly once — in the batch where the LATER of the two documents
  *     arrives (new×old) or where both arrive (new×new, canonicalized
  *     and deduped within the batch).
  *
  * EQUIVALENCE: the union of per-batch candidate sets is exactly the
  * batch pipeline's bucket-collision candidate set (banding is a
  * per-document deterministic map, and every unordered pair has a unique
  * "later batch"), and verification is the identical exact Jaccard — so
  * the accumulated pair store equals `Dedup.nearDuplicates` over the
  * union of all batches (StreamingSpec proves set equality on a corpus
  * fed through micro-batches).
  *
  * STORE LAYOUT under `storePath` (all plain parquet — no catalog
  * dependency, readable by any engine):
  *   - `hashes/`  (doc_id, sh, hv, ingest_ms): distinct shingle sets +
  *     base hash values of every ingested doc (empty-shingle docs
  *     excluded, as in batch), stamped with the append wall-clock for
  *     latest-wins version collapse;
  *   - `sigs/`    (doc_id, band, sig): banded MinHash signatures;
  *   - `pairs/`   (doc_a, doc_b, jaccard, ingest_ms): verified near-dup
  *     pairs, stamped like the hashes so re-verifications supersede;
  *   - `_graft_commits/<scope>/<batchId>`: per-batch commit markers.
  *
  * REPLAY SAFETY, compaction and crash recovery are the kernel's
  * (`StoreMaintenance`). The residual window (crash AFTER some of the
  * three appends but BEFORE the marker) can leave duplicate rows in the
  * stores; each sub-store's declared collapse absorbs them, so the read
  * accessors (`pairs`/`hashes`/`sigs`) are exact even across an
  * uncompacted window.
  *
  * Input schema: `doc_id LONG, text STRING` (extra columns ignored).
  * doc_ids are assumed UNIQUE across the stream's lifetime (the same
  * assumption the batch pipeline makes of a corpus). If an id IS
  * re-sent with different text, both versions land in the hash store,
  * but every read — the verify join, the `hashes` accessor, and the
  * compaction rewrite — collapses to ONE deterministic version per
  * doc_id (`canonicalByDoc`: LATEST ingest stamp wins, so corrective
  * re-sends take effect). Pairs follow the same discipline: the batch
  * that re-sends a doc RE-VERIFIES every stored pair touching it
  * against the new canonical versions and appends the result with the
  * batch's stamp — latest verification wins at read, and a re-verified
  * jaccard below the sink threshold DISSOLVES the pair (`pairs` filters
  * it out), so downstream curation never serves a pairing the current
  * document versions no longer support.
  */
object StreamingDedup {

  /** `ingest_ms` is the version stamp of each hash row (wall clock at
    * append): latest-wins collapse needs an order that survives a
    * checkpoint-lineage change — batchIds restart at 0 with a fresh
    * checkpoint, so stamping with the batchId would serve a STALE
    * version over a corrective re-send from the new lineage forever.
    */
  private val hashSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sh", ArrayType(StringType)),
    StructField("hv", ArrayType(LongType)),
    StructField("ingest_ms", LongType)))
  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("band", IntegerType),
    StructField("sig", StringType)))
  private val pairSchema = StructType(Seq(
    StructField("doc_a", LongType),
    StructField("doc_b", LongType),
    StructField("jaccard", DoubleType),
    StructField("ingest_ms", LongType)))

  // each sub-store's collapse is its accessor's rule — hashes to the
  // canonical version, pairs to the latest verification, sigs to
  // full-row distinct — so compaction cannot flip the served rows
  private[graft] val hashesSub =
    StoreMaintenance.SubStore("hashes", hashSchema)(canonicalHashRows)
  private[graft] val sigsSub =
    StoreMaintenance.SubStore("sigs", sigSchema)(_.dropDuplicates("doc_id", "band", "sig"))
  private[graft] val pairsSub =
    StoreMaintenance.SubStore("pairs", pairSchema)(canonicalPairRows)
  private val subs = Seq(hashesSub, sigsSub, pairsSub)

  /** Start the incremental near-dup sink over a document stream. The
    * LSH parameters MUST stay fixed for the lifetime of a store —
    * signatures computed under different (n, numBands, bandSize) don't
    * collide meaningfully (re-shingle into a fresh store to re-tune).
    */
  def sinkNearDup(docs: DataFrame, storePath: String, checkpointDir: String,
                  n: Int = 3, numBands: Int = 24, bandSize: Int = 3,
                  threshold: Double = 0.5): StreamingQuery =
    StoreMaintenance.sink(docs, storePath, checkpointDir) { (batch, batchId, scope) =>
      processBatch(batch, batchId, storePath, scope, n, numBands, bandSize, threshold)
    }

  /** Largest batch signature-row count (documents × numBands — the
    * actual broadcast payload, so a recall-tuned numBands cannot defeat
    * the guard) that is force-BROADCAST to the candidate join.
    * Steady-state micro-batches are far below this (240k sig rows ≈
    * 10k docs at the default 24 bands ≈ 36 MB); a backfill-sized batch
    * above the cap would OOM the driver if forced, so it takes the
    * plain equi-join path once (the store shuffles for that one batch —
    * AQE sizes it) instead of failing.
    */
  private[graft] val MaxBroadcastSigRows = 240000L

  /** One idempotent incremental micro-batch (factored out of
    * `sinkNearDup` so replay behavior is directly testable — the
    * `appendBatch` pattern). @return whether the batch was processed
    * (false = replay of a committed batchId, skipped).
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long, storePath: String,
                                  scope: String = "default", n: Int = 3,
                                  numBands: Int = 24, bandSize: Int = 3,
                                  threshold: Double = 0.5): Boolean = {
    val spark = batch.sparkSession
    StoreMaintenance.runOnce(spark.sparkContext.hadoopConfiguration,
      storePath, scope, batchId) {
      // version stamp for this batch's hash rows (see hashSchema;
      // strictly increasing within the JVM — StoreMaintenance.nextStamp —
      // so a same-millisecond corrective re-send can't tie and lose). A
      // replayed batch re-appends with a LATER stamp — content-identical
      // rows, so whichever copy the latest-wins collapse keeps is exact.
      val ingestMs = StoreMaintenance.nextStamp()
      // new docs' shingle sets + base hashes: the only per-doc CPU work of
      // the batch, materialized once — it feeds the signature projection
      // and both sides of the verify joins. EMPTY shingle sets are KEPT
      // in the store (batch `shingleHashFrame` semantics — a doc below
      // the shingle width has sh=[]): a corrective re-send that SHORTENS
      // a doc below the width must still supersede the stored version,
      // or its stale pairs could never dissolve. Only the signature /
      // candidate path filters them (an empty set has no bands and can
      // never pair).
      val newHashAll = Dedup.materializeOnce(
        Dedup.shingleHashFrame(batch.select("doc_id", "text"), n))
      val nNewDocs = newHashAll.count() // cached-metadata read (checkpointed)
      val newHash = newHashAll.filter(size(col("sh")) > 0)
      val newSigs = Dedup.minhashBands(newHash, numBands, bandSize)

      val oldSigs = sigsSub.raw(spark, storePath)
      val allSigs = oldSigs.select("doc_id", "band", "sig")
        .unionByName(newSigs.select("doc_id", "band", "sig"))
      // the cap is on the broadcast PAYLOAD (sig rows).
      // cands feeds BOTH the candidate-id filter and the verify joins
      // below — persist (spillable) so each consumer reads the computed
      // relation instead of re-running the store-scanning candidate join.
      // persist, NOT materializeOnce: on a cluster the latter writes a
      // RELIABLE checkpoint per micro-batch whose files only an explicit
      // release sweeps — an all-day stream would leak storage per batch;
      // the persist is dropped in the finally below.
      val cands = candidatePairs(newSigs, allSigs,
        broadcastNew = nNewDocs * numBands <= MaxBroadcastSigRows).persist()
      // every persisted frame of this batch (cands now, touched once
      // built) — released in the finally whether the batch commits or not
      val persisted = scala.collection.mutable.ListBuffer[DataFrame](cands)
      try {
        val nCands = cands.count() // materialize before fan-out
        // CORRECTIVE RE-SENDS must be able to LOWER or DISSOLVE a served
        // pair, not only raise it: a pair verified against a superseded
        // version would otherwise serve forever (append-only store).
        // Every existing pair touching a re-sent doc_id is RE-VERIFIED
        // in the batch that re-sends it, against the new canonical
        // versions, and the result appends WITH this batch's stamp —
        // including below-threshold jaccards, which act as dissolution
        // markers at read time (`pairs` collapses latest-stamp-wins and
        // filters on the threshold). Cost on the common no-re-send path:
        // one column-pruned id scan of the hash store (the batch side is
        // broadcast, the store never shuffled — same discipline as the
        // candidate join); the pair store is only scanned when re-sent
        // ids actually exist, and the touched relation is pair-store-
        // sized (near-dup pairs, tiny relative to the corpus).
        // resent detection runs on ALL re-sent ids (including docs whose
        // new version shingles empty — exactly the re-sends that must
        // dissolve their pairs). No separate isEmpty probe: the common
        // no-re-send path prices the SAME hash-store id scan either way,
        // and the extra relation the probe used to gate — the pair store
        // — is near-dup-pair-sized; folding the probe into the one
        // `touched` materialization drops an action (and its store-scan
        // job) from every micro-batch.
        // no distinct on the store-id side: `resent` is only ever the
        // RIGHT side of left_semi joins, where duplicate rows (replay
        // residuals / re-send versions) cannot change the result — the
        // dedup shuffle would be a pure extra exchange per batch
        val newIds = newHashAll.select("doc_id")
        val resent = hashesSub.raw(spark, storePath)
          .select("doc_id")
          .join(if (2 * nNewDocs <= MaxBroadcastSigRows) broadcast(newIds) else newIds,
            Seq("doc_id"), "left_semi")
        val oldPairs = pairsSub.raw(spark, storePath)
        // re-sent ids ≤ batch size, so the broadcast cap that admitted
        // the batch's sigs admits them; over-cap backfills fall back to
        // AQE-planned joins like every other guarded broadcast here
        val resentB =
          if (2 * nNewDocs <= MaxBroadcastSigRows) broadcast(resent) else resent
        // duplicates here (a pair touched on both endpoints, multi-stamp
        // pair-store rows) are LEGAL: the pre-verify groupBy below is the
        // one collapse point, so a dedup shuffle here would be redundant;
        // nTouched over-counts accordingly, which only makes the
        // broadcast gate more conservative
        val touched = oldPairs.join(resentB.withColumnRenamed("doc_id", "doc_a"),
            Seq("doc_a"), "left_semi").select("doc_a", "doc_b")
          .unionByName(oldPairs.join(resentB.withColumnRenamed("doc_id", "doc_b"),
            Seq("doc_b"), "left_semi").select("doc_a", "doc_b"))
          .persist()
        persisted += touched
        // verify against the shingle sets of BOTH sides (old docs' sets come
        // from the hash store; candidate + touched pairs are few → the
        // verify joins broadcast them against the store scan). The store
        // side is first narrowed to the pairs' doc_ids (semi-join — the
        // store is scanned, never shuffled) and then collapsed to ONE row
        // per doc_id: the store can carry replay-residual duplicate rows
        // (value-identical, any survivor is exact) or — if a doc_id is ever
        // re-sent with different text — conflicting versions; without the
        // collapse the verify join would emit one jaccard row PER version of
        // each endpoint. `canonicalByDoc` picks the LATEST ingest stamp
        // (corrective re-sends take effect immediately), with the
        // (size, sh, hv) struct only as the same-stamp tie-break; the
        // collapse aggregate is candidate-sized, not corpus-sized. The id
        // relation is force-broadcast only under the same payload cap as
        // the sig side — a backfill-sized candidate set falls back to
        // AQE-planned joins instead of OOMing the driver.
        // the forced-broadcast gate must bound the WHOLE verifyIds
        // payload: candidates (≤ 2·nCands ids) AND touched stored pairs —
        // a hub doc with a large pair fan re-sent in a tiny batch makes
        // touched >> cands, and a gate on nCands alone would force an
        // unbounded broadcast (the r10 review catch)
        val nTouched = touched.count()
        // semi-join right side again — duplicates harmless, the distinct
        // would be one more exchange; the 4·nCands + 2·nTouched gate
        // already bounds the UN-deduped broadcast payload
        val verifyIds = cands.select(col("doc_a").as("doc_id"))
          .unionByName(cands.select(col("doc_b").as("doc_id")))
          .unionByName(touched.select(col("doc_a").as("doc_id")))
          .unionByName(touched.select(col("doc_b").as("doc_id")))
        val verifyIdsB =
          if (4 * nCands + 2 * nTouched <= MaxBroadcastSigRows) broadcast(verifyIds)
          else verifyIds
        // persisted + materialized: the verify plan joins this relation
        // FOUR times (size prune ×2, shingle sets ×2) — uncached, each
        // join re-runs the store scan + semi-join + canonical collapse
        // subtree as its own AQE stage chain; cached, the subtree runs
        // once. The relation is verify-ids-sized (bounded by the
        // broadcast gate above), so the persist is small by construction.
        val allHash = canonicalByDoc(
          hashesSub.raw(spark, storePath)
            .select("doc_id", "sh", "hv", "ingest_ms")
            .unionByName(newHashAll.select("doc_id", "sh", "hv")
              .withColumn("ingest_ms", lit(ingestMs)))
            .join(verifyIdsB, Seq("doc_id"), "left_semi")).persist()
        persisted += allHash
        allHash.count(): Unit // one materialization, not four racing ones
        // ONE verify DAG for both pair sources (was two verifyJaccard
        // passes — the `_rv` flag carries the re-verification contract:
        // those rows skip the size-prune and keep below-threshold
        // jaccards as dissolution markers; new candidates filter at the
        // sink threshold as before). A pair in both sources collapses in
        // the pre-verify groupBy — _rv wins, and its kept-jaccard
        // semantics are a superset of the candidate row's.
        val toVerify = cands.withColumn("_rv", lit(false))
          .unionByName(touched.withColumn("_rv", lit(true)))
          .groupBy("doc_a", "doc_b").agg(max(col("_rv")).as("_rv"))
        val pairRows = Dedup.verifyJaccardResend(toVerify, allHash, threshold)
          .withColumn("ingest_ms", lit(ingestMs))

        // three appends inside the marker window: at-least-once — a crash
        // mid-window re-appends on replay, collapsed by the declared
        // sub-store rules (the replayed re-verification scores against the same
        // canonical versions, so re-appended rows stay value-identical).
        // Small batches coalesce to one output file per sub-store: the
        // hash/sig payloads are already materialized (checkpoint), so the
        // coalesce costs no parallelism upstream, and every later store
        // scan lists 1 file per batch instead of a task-count's worth.
        val shrink: DataFrame => DataFrame = df =>
          if (2 * nNewDocs <= MaxBroadcastSigRows) df.coalesce(1) else df
        shrink(newHashAll.select("doc_id", "sh", "hv")
            .withColumn("ingest_ms", lit(ingestMs)))
          .write.mode(SaveMode.Append)
          .parquet(hashesSub.path(storePath))
        shrink(newSigs.select("doc_id", "band", "sig"))
          .write.mode(SaveMode.Append)
          .parquet(sigsSub.path(storePath))
        pairRows.write.mode(SaveMode.Append).parquet(pairsSub.path(storePath))
      } finally persisted.foreach(_.unpersist(): Unit)
    }
  }

  /** Candidate pairs of one incremental step: new docs against the WHOLE
    * corpus so far (`allSigs` = accumulated store + this batch, so
    * new-new pairs are found too). The new side is micro-batch-sized —
    * BROADCAST it, so the accumulated store is scanned (columns pruned
    * to the three sig fields) but NEVER shuffled, whatever its size —
    * the property that keeps per-batch cost proportional to the batch
    * (PlanSpec pins the broadcast shape). Self-rows drop on doc_id
    * inequality; least/greatest canonicalizes; distinct collapses a
    * pair re-found via several bands (and the new-new double discovery).
    * `broadcastNew = false` is the backfill escape (see
    * `MaxBroadcastSigRows`): the one over-cap batch joins by shuffle
    * instead of OOMing the driver.
    */
  private[graft] def candidatePairs(newSigs: DataFrame, allSigs: DataFrame,
                                    broadcastNew: Boolean = true): DataFrame = {
    val newSide = newSigs.select(col("band"), col("sig"), col("doc_id").as("_nid"))
    allSigs.alias("al")
      .join((if (broadcastNew) broadcast(newSide) else newSide)
        .alias("nw"), Seq("band", "sig"))
      .filter(col("al.doc_id") =!= col("_nid"))
      .select(least(col("al.doc_id"), col("_nid")).as("doc_a"),
        greatest(col("al.doc_id"), col("_nid")).as("doc_b"))
      .distinct()
  }

  /** The accumulated verified near-dup pair relation: ONE row per pair,
    * LATEST verification wins (ingest_ms stamp — a pair re-verified
    * against a corrective re-send serves the NEW jaccard, and one whose
    * re-verified jaccard fell below the threshold is DROPPED, so
    * downstream curation stops clustering docs that are no longer
    * duplicates). `threshold` must be the threshold the sink ran with:
    * re-verification appends below-threshold rows as dissolution
    * markers, and this read is where they take effect. Exact across the
    * replay residual window (re-appended rows are value-identical, any
    * stamp order serves the same value); same-stamp ties break on the
    * jaccard value (deterministic — both rows scored the same canonical
    * versions). Pre-stamp rows (ingest_ms null, pre-existing stores)
    * rank oldest, so the first stamped re-verification supersedes them.
    */
  def pairs(spark: SparkSession, storePath: String, threshold: Double = 0.5): DataFrame =
    pairsSub.read(spark, storePath)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Change witness of the pair store (`StoreMaintenance.version`) for
    * memos DERIVED from `pairs`, e.g. the connected-component clustering.
    * One column-pruned scan of the near-dup-pair-sized store.
    */
  def pairsVersion(spark: SparkSession, storePath: String): (Long, Long) =
    StoreMaintenance.version(spark, storePath, pairsSub)

  /** Latest-stamp-wins collapse KEEPING the stamp (compaction must
    * preserve it — and must keep below-threshold dissolution rows, or a
    * compact would resurrect the superseded pair on the next read).
    */
  private def canonicalPairRows(p: DataFrame): DataFrame =
    p.groupBy("doc_a", "doc_b")
      .agg(max(struct(coalesce(col("ingest_ms"), lit(Long.MinValue)).as("_t"),
        col("jaccard"))).as("_m"))
      .select(col("doc_a"), col("doc_b"), col("_m.jaccard").as("jaccard"),
        col("_m._t").as("ingest_ms"))

  /** The accumulated shingle+hash frame — feed it to
    * `Dedup.jaccardPairsFromShingles` / `clusters` for the non-LSH dedup
    * flavors over a streamed corpus. One row per doc_id, chosen by the
    * same deterministic rule as the verify join (`canonicalByDoc`).
    */
  def hashes(spark: SparkSession, storePath: String): DataFrame =
    hashesSub.read(spark, storePath).select("doc_id", "sh", "hv")

  /** Collapse a (doc_id, sh, hv, ingest_ms) relation to ONE row per
    * doc_id: LATEST version wins (max ingest_ms — a corrective re-send
    * takes effect immediately, including one that SHRINKS the document),
    * with the (size(sh), sh, hv) struct as the deterministic tie-break
    * within one stamp. The data on disk is fixed once written, so every
    * read of the same store serves the same version regardless of
    * partitioning; replay-residual duplicates are content-identical, so
    * whichever copy survives is exact. Pre-stamp rows (ingest_ms null)
    * rank oldest.
    */
  private[graft] def canonicalByDoc(hashFrame: DataFrame): DataFrame =
    canonicalHashRows(hashFrame).select("doc_id", "sh", "hv")

  /** `canonicalByDoc` keeping the version stamp — the compaction rewrite
    * must preserve it or every compacted row would tie as "oldest".
    */
  private def canonicalHashRows(hashFrame: DataFrame): DataFrame =
    hashFrame
      .groupBy("doc_id")
      .agg(max(struct(coalesce(col("ingest_ms"), lit(Long.MinValue)).as("_t"),
        size(col("sh")).as("_n"), col("sh"), col("hv"))).as("_m"))
      .select(col("doc_id"), col("_m.sh").as("sh"), col("_m.hv").as("hv"),
        col("_m._t").as("ingest_ms"))

  /** Full-ROW distinct, not (doc_id, band)-keyed: a re-sent doc's two
    * versions legitimately carry different sigs per band, and BOTH must
    * survive so either version's future near-dups still band-collide
    * (verification always scores against the canonical version).
    */
  private[graft] def sigs(spark: SparkSession, storePath: String): DataFrame =
    sigsSub.read(spark, storePath)

  /** Collapse replay-residual duplicates and per-batch small files in all
    * three sub-stores (`StoreMaintenance.compactStore`). MUST run with
    * ingest into this store stopped — enforced in-process.
    */
  def compactStore(spark: SparkSession, storePath: String): Unit =
    StoreMaintenance.compactStore(spark, storePath, subs)

  def recoverStore(spark: SparkSession, storePath: String): Unit =
    StoreMaintenance.recoverStore(spark, storePath, subs)
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}

/** Incremental embedding-cosine near-duplicate detection over a VECTOR
  * STREAM — the streaming twin of the batch
  * `Similarity.embeddingDuplicates` (whose output is the oracle-checked
  * `q_embed_dup`), and the embedding-flavored sibling of
  * `StreamingDedup` (replay, compaction and crash recovery are the
  * `StoreMaintenance` kernel's).
  *
  * Per micro-batch, only the NEW vectors are normalized and
  * sign-bucketed; candidates come from broadcast-joining the batch's
  * (bucket, vec_id) KEYS against the accumulated store's keys — the
  * store is scanned (two key columns), never shuffled — and the cosine
  * verify scores the CANONICAL (latest) version of each candidate
  * endpoint with the same `dot_f64` + round(…, 6) arithmetic as batch,
  * so the accumulated pair store equals `embeddingDuplicates` over the
  * union of all batches (StreamingSpec proves set equality), and a
  * superseded version of a re-sent vec_id can never justify a pair.
  *
  * STORE LAYOUT under `storePath`:
  *   - `vecs/`  (vec_id, v, norm, bucket, ingest_ms): double-cast
  *     vectors with their norm and sign bucket (computed once, at
  *     ingest) and the latest-wins version stamp;
  *   - `pairs/` (vec_a, vec_b, sim): verified near-dup pairs;
  *   - `_graft_commits/<scope>/<batchId>`: commit markers.
  *
  * Input schema: `vec_id LONG, embedding ARRAY<FLOAT|DOUBLE>` (extra
  * columns ignored).
  */
object StreamingEmbed {

  /** Largest row count force-broadcast into the candidate/verify joins.
    * Both broadcast relations are KEY-sized — (bucket, vec_id) probe rows
    * and candidate-id rows; the vectors themselves no longer ride the
    * candidate join (verification reads them from the canonical-collapsed
    * store), so the cap no longer needs to account for dims. Same scale
    * as `StreamingDedup.MaxBroadcastSigRows` (~15 MB of key rows); an
    * over-cap backfill batch joins by shuffle once instead of OOMing the
    * driver.
    */
  private[graft] val MaxBroadcastKeyRows: Long = 240000L

  /** `ingest_ms` mirrors `StreamingDedup`'s hash-row version stamp:
    * latest-wins collapse for re-sent vec_ids, robust to checkpoint-
    * lineage changes (batchIds restart; wall clock doesn't).
    */
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType)),
    StructField("norm", DoubleType),
    StructField("bucket", StringType),
    StructField("ingest_ms", LongType)))
  private val pairSchema = StructType(Seq(
    StructField("vec_a", LongType),
    StructField("vec_b", LongType),
    StructField("sim", DoubleType)))

  private[graft] val vecsSub = StoreMaintenance.SubStore("vecs", vecSchema)(canonicalVecRows)

  /** The pair collapse dissolves pairs touching a canonically deleted
    * vec_id, so the declaration is built per call over the store's
    * current tombstones (read when the collapse runs — in a compact,
    * after vecs was compacted).
    */
  private[graft] def pairsSub(spark: SparkSession, storePath: String) =
    StoreMaintenance.SubStore("pairs", pairSchema)(p =>
      dissolveDeleted(canonicalPairs(p), deletedIds(vecsSub.raw(spark, storePath))))

  /** Start the incremental embedding near-dup sink. `bits` MUST stay
    * fixed for the lifetime of a store (bucket keys are not comparable
    * across widths).
    */
  def sinkEmbedDup(embeddings: DataFrame, storePath: String, checkpointDir: String,
                   bits: Int = 8, threshold: Double = 0.3): StreamingQuery =
    StoreMaintenance.sink(embeddings, storePath, checkpointDir) { (batch, batchId, scope) =>
      processBatch(batch, batchId, storePath, scope, bits, threshold)
    }

  /** One idempotent incremental micro-batch (testable replay unit — the
    * `appendBatch` pattern). @return false = replay of a committed
    * batchId, skipped.
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long, storePath: String,
                                  scope: String = "default", bits: Int = 8,
                                  threshold: Double = 0.3): Boolean = {
    val spark = batch.sparkSession
    val appended = StoreMaintenance.runOnce(spark.sparkContext.hadoopConfiguration,
      storePath, scope, batchId) {
      invalidateVersion(storePath) // the append changes what version reads
      val ingestMs = StoreMaintenance.nextStamp()
      // null embeddings are dropped up front: they carry no signal (the
      // batch path drops them too — a null bucket never joins), and a
      // null-poisoned batch must not crash every replay
      val newP = Dedup.materializeOnce(
        Similarity.prepared(batch.select("vec_id", "embedding")
            .filter(col("embedding").isNotNull))
          .withColumn("bucket", Similarity.signBucket(col("v"), bits)))
      val storeVecs = vecsSub.raw(spark, storePath)
      // CANDIDATES: the new batch's (bucket, vec_id) keys against all
      // accumulated keys — only the two key columns are read from the
      // store, which is scanned, never shuffled; the micro-batch-sized
      // new side broadcasts under the row cap. A superseded version's
      // bucket still generates candidates (recall), but verification
      // below scores ONLY canonical vectors.
      val allKeys = storeVecs.select("vec_id", "bucket")
        .unionByName(newP.select("vec_id", "bucket"))
      val newSide = newP.select(col("bucket"), col("vec_id").as("_nid"))
      val probe =
        if (newP.count() <= MaxBroadcastKeyRows) broadcast(newSide) else newSide
      val cands = allKeys.alias("al")
        .join(probe, Seq("bucket"))
        .filter(col("al.vec_id") =!= col("_nid"))
        .select(least(col("al.vec_id"), col("_nid")).as("vec_a"),
          greatest(col("al.vec_id"), col("_nid")).as("vec_b"))
        .distinct()
        .persist()
      try {
        val nCands = cands.count() // materialize before fan-out
        // VERIFY against the CANONICAL version of every candidate endpoint
        // (same shape as StreamingDedup): narrow the store to candidate
        // ids first (semi-join — store scanned, never shuffled), collapse
        // candidate-sized. Without the collapse a stale version still
        // sitting in vecs/ would justify a pair the canonical corpus no
        // longer contains.
        val candIds = cands.select(col("vec_a").as("vec_id"))
          .unionByName(cands.select(col("vec_b").as("vec_id"))).distinct()
        val candIdsB =
          if (2 * nCands <= MaxBroadcastKeyRows) broadcast(candIds) else candIds
        val canon = canonicalVecRows(
          storeVecs.select("vec_id", "v", "norm", "bucket", "ingest_ms")
            .unionByName(newP.select("vec_id", "v", "norm", "bucket")
              .withColumn("ingest_ms", lit(ingestMs)))
            .join(candIdsB, Seq("vec_id"), "left_semi"))
        val newPairs = cands
          .join(canon.select(col("vec_id").as("vec_a"), col("v").as("_va"),
            col("norm").as("_na")), "vec_a")
          .join(canon.select(col("vec_id").as("vec_b"), col("v").as("_vb"),
            col("norm").as("_nb")), "vec_b")
          .select(col("vec_a"), col("vec_b"),
            Similarity.cosine(col("_va"), col("_na"), col("_vb"), col("_nb")).as("sim"))
          .filter(col("sim") >= threshold)

        newP.select("vec_id", "v", "norm", "bucket")
          .withColumn("ingest_ms", lit(ingestMs))
          .write.mode(SaveMode.Append)
          .parquet(vecsSub.path(storePath))
        newPairs.write.mode(SaveMode.Append).parquet(pairsSub(spark, storePath).path(storePath))
      } finally cands.unpersist(): Unit
    }
    // invalidate AFTER the append lands too (r18 review): a reader that
    // resolved the version DURING the append window re-populated the
    // cache with the pre-append pair — without this second clear it
    // would serve stale derived state until the next mutation
    if (appended) invalidateVersion(storePath)
    appended
  }

  /** DELETE batch — TOMBSTONE rows through the same latest-stamp-wins
    * machinery as every re-send: each deleted vec_id appends a row with
    * NULL vector columns and a fresh ingest stamp, so the canonical
    * collapse resolves it exactly like a newer version (a later RE-ADD
    * with a newer stamp beats the tombstone — deletes are not forever,
    * they are just versions). Accessors hide tombstoned ids: `vectors`
    * drops them, `pairs` DISSOLVES every pair touching one (the pair's
    * sim was computed against a corpus that no longer contains the
    * endpoint), and every ANN structure derived from `vectors`
    * (streamed IVF/PQ/OPQ) inherits the exclusion. Tombstones SURVIVE
    * compaction: the canonical collapse keeps the winning row whether
    * or not its vector is NULL, so a compacted store still refuses to
    * serve the deleted id. Idempotent under replay like every batch
    * (`runOnce` on the same marker scope).
    */
  def processDeleteBatch(deletes: DataFrame, batchId: Long, storePath: String,
                         scope: String = "default"): Boolean = {
    val spark = deletes.sparkSession
    val appended = StoreMaintenance.runOnce(spark.sparkContext.hadoopConfiguration,
      storePath, scope, batchId) {
      invalidateVersion(storePath)
      val ingestMs = StoreMaintenance.nextStamp()
      deletes.select(col("vec_id").cast("long").as("vec_id")).distinct()
        .withColumn("v", lit(null).cast(ArrayType(DoubleType)))
        .withColumn("norm", lit(null).cast(DoubleType))
        .withColumn("bucket", lit(null).cast(StringType))
        .withColumn("ingest_ms", lit(ingestMs))
        .write.mode(SaveMode.Append).parquet(vecsSub.path(storePath))
    }
    if (appended) invalidateVersion(storePath)
    appended
  }

  /** The canonically-DELETED ids of a vecs relation: ids whose
    * latest-stamp row is a tombstone. Pre-narrowed to tombstone-touched
    * ids (parquet null-count stats answer the tombstone filter), so a
    * store with no deletes pays an empty semi-join, never a full
    * canonical collapse.
    */
  private def deletedIds(vecs: DataFrame): DataFrame = {
    val touched = vecs.filter(col("v").isNull).select("vec_id").distinct()
    canonicalVecRows(vecs.join(touched, Seq("vec_id"), "left_semi"))
      .filter(col("v").isNull)
      .select("vec_id")
  }

  /** The accumulated verified pair relation — exact across the replay
    * residual window, deterministic under re-sent vec_ids (the max sim
    * over observed versions wins on every read and across compacts),
    * and tombstone-aware: a pair either of whose endpoints is
    * canonically deleted DISSOLVES.
    */
  def pairs(spark: SparkSession, storePath: String): DataFrame =
    pairsSub(spark, storePath).read(spark, storePath)

  private def dissolveDeleted(pairs: DataFrame, deleted: DataFrame): DataFrame =
    pairs
      .join(deleted.select(col("vec_id").as("vec_a")), Seq("vec_a"), "left_anti")
      .join(deleted.select(col("vec_id").as("vec_b")), Seq("vec_b"), "left_anti")
      .select("vec_a", "vec_b", "sim")

  private def canonicalPairs(p: DataFrame): DataFrame =
    p.groupBy("vec_a", "vec_b").agg(max(col("sim")).as("sim"))

  /** Per-process memo of the vecs sub-store's change witness
    * (`StoreMaintenance.version`) — the aggregate is a real Spark
    * job over the vector sub-store, and the version-keyed derived memos
    * (streamedIvf0 / streamedWhitenTable / streamedIvf) resolve it on
    * EVERY served call, so an unmemoized resolve dilutes every timed
    * streamed-twin row with a store-shaped job (r17 ADVICE). Every
    * in-process mutation (append, compact, recover) invalidates; a
    * mutation from ANOTHER JVM is undetectable from here — the same
    * in-process-honesty contract as the `activeIngest` compact guard.
    */
  private val versionCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private[graft] def invalidateVersion(storePath: String): Unit = {
    versionCache.remove(storePath): Unit
  }

  private[graft] def storeVersionCached(spark: SparkSession, storePath: String): (Long, Long) =
    versionCache.computeIfAbsent(storePath,
      _ => StoreMaintenance.version(spark, storePath, vecsSub))

  /** The accumulated (vec_id, v, norm, bucket) store — feed it to batch
    * similarity consumers over a streamed corpus. One row per vec_id:
    * latest ingest stamp wins (`StreamingDedup.canonicalByDoc`'s rule);
    * a canonical TOMBSTONE (deleted id) is excluded, so every ANN
    * structure derived from this relation serves the shrunk corpus.
    */
  def vectors(spark: SparkSession, storePath: String): DataFrame =
    vecsSub.read(spark, storePath)
      .filter(col("v").isNotNull)
      .select("vec_id", "v", "norm", "bucket")

  private def canonicalVecRows(vecs: DataFrame): DataFrame =
    vecs.groupBy("vec_id")
      .agg(max(struct(coalesce(col("ingest_ms"), lit(Long.MinValue)).as("_t"),
        col("v"), col("norm"), col("bucket"))).as("_m"))
      .select(col("vec_id"), col("_m.v").as("v"), col("_m.norm").as("norm"),
        col("_m.bucket").as("bucket"), col("_m._t").as("ingest_ms"))

  /** Collapse replay-residual duplicates and per-batch small files
    * (`StoreMaintenance.compactStore`).
    */
  def compactStore(spark: SparkSession, storePath: String): Unit = {
    invalidateVersion(storePath) // the physical collapse changes the raw row count
    // vecs compact FIRST: the canonical collapse keeps tombstone rows
    // (deletes survive compaction), and the pairs collapse reads the
    // compacted vecs to drop dissolved pairs PHYSICALLY — safe to drop,
    // not just read-filter, because a re-added endpoint is a new version
    // whose pairs regenerate at its own ingest
    StoreMaintenance.compactStore(spark, storePath, Seq(vecsSub, pairsSub(spark, storePath)))
    // and again after the swap: a read during the rewrite window must
    // not pin the pre-compact version (r18 review)
    invalidateVersion(storePath)
  }

  def recoverStore(spark: SparkSession, storePath: String): Unit = {
    invalidateVersion(storePath)
    StoreMaintenance.recoverStore(spark, storePath, Seq(vecsSub, pairsSub(spark, storePath)))
    invalidateVersion(storePath) // post-recovery clear (see compactStore)
  }
}

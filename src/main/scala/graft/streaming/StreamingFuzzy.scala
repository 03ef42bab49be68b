package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.operators.{Dedup, FuzzyJoin}

/** Incremental SymSpell fuzzy matching over a URL STREAM — the
  * streaming twin of the batch `FuzzyJoin.ed1Pairs` (whose output is
  * the oracle-checked `q_fuzzy_urls`), and the crawl-frontier shape
  * the operator exists for: a frontier receives URLs continuously, and
  * re-running the full variant self-join per batch is O(corpus) work
  * per micro-batch.
  *
  * The incremental contract mirrors `StreamingDedup`'s signature
  * store: per micro-batch only the NEW urls' {identity} ∪ {1-deletion}
  * variants are computed; candidates come from an equi-join of the new
  * batch's variants against the accumulated VARIANT STORE (variants
  * are precomputed at ingest, so the store is scanned — two string
  * columns — never recomputed and never shuffled; the micro-batch side
  * broadcasts under the row cap); `levenshtein` verifies candidates
  * only. A pair is found exactly once — in the batch where the LATER
  * endpoint arrives (new×store) or where both arrive (new×new, the
  * new side being part of the accumulated relation by union).
  *
  * EQUIVALENCE: every ED-1 pair shares a variant (the identity entry
  * covers insert/delete pairs — see `FuzzyJoin`), each unordered pair
  * has a unique "later batch", and verification is the identical
  * levenshtein — so the accumulated pair store equals `ed1Pairs` over
  * the union of all batches (FuzzyStreamSpec proves set equality; the
  * `q_fuzzy_urls_streamed` row hash-checks it under the batch oracle).
  *
  * STORE LAYOUT under `storePath`:
  *   - `vars/`  (url, v, ingest_ms): each ingested url's variant rows;
  *   - `pairs/` (url_a, url_b): verified ED-1 pairs;
  *   - `_graft_commits/<scope>/<batchId>`: idempotent-replay markers.
  * URLs are VALUES (no version semantics — a re-sent url is the same
  * url), so each sub-store's declared collapse is a plain distinct.
  */
object StreamingFuzzy {

  /** Same scale as `StreamingEmbed.MaxBroadcastKeyRows`: variant rows
    * are short strings, a backfill batch over the cap joins by shuffle
    * once instead of OOMing the driver.
    */
  private[graft] val MaxBroadcastVarRows: Long = 240000L

  private val varSchema = StructType(Seq(
    StructField("url", StringType),
    StructField("v", StringType),
    StructField("ingest_ms", LongType)))
  private val pairSchema = StructType(Seq(
    StructField("url_a", StringType),
    StructField("url_b", StringType)))

  private[graft] val varsSub =
    StoreMaintenance.SubStore("vars", varSchema)(_.dropDuplicates("url", "v"))
  private[graft] val pairsSub = StoreMaintenance.SubStore("pairs", pairSchema)(_.distinct())
  private val subs = Seq(varsSub, pairsSub)

  /** Start the incremental fuzzy-pair sink: `urls` must stream a
    * `url STRING` column (extra columns ignored).
    */
  def sinkFuzzyPairs(urls: DataFrame, storePath: String,
                     checkpointDir: String): StreamingQuery =
    StoreMaintenance.sink(urls, storePath, checkpointDir) { (batch, batchId, scope) =>
      processBatch(batch, batchId, storePath, scope)
    }

  /** One idempotent incremental micro-batch (testable replay unit).
    * @return false = replay of a committed batchId, skipped.
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long, storePath: String,
                                  scope: String = "default"): Boolean = {
    val spark = batch.sparkSession
    StoreMaintenance.runOnce(spark.sparkContext.hadoopConfiguration,
      storePath, scope, batchId) {
      val stamp = StoreMaintenance.nextStamp()
      val newV = Dedup.materializeOnce(
        batch.select(col("url")).filter(col("url").isNotNull).distinct()
          .select(col("url"), explode(FuzzyJoin.variants(col("url"))).as("v")))
      val storeVars = varsSub.raw(spark, storePath)
      val allVars = storeVars.select("url", "v").unionByName(newV)
      val newSide = newV.select(col("v"), col("url").as("_nu"))
      val probe =
        if (newV.count() <= MaxBroadcastVarRows) broadcast(newSide) else newSide
      val newPairs = allVars.join(probe, "v")
        .filter(col("url") =!= col("_nu"))
        .select(least(col("url"), col("_nu")).as("url_a"),
          greatest(col("url"), col("_nu")).as("url_b"))
        .distinct()
        .filter(levenshtein(col("url_a"), col("url_b")) === 1)
      newV.withColumn("ingest_ms", lit(stamp))
        .coalesce(1).write.mode(SaveMode.Append).parquet(varsSub.path(storePath))
      newPairs.coalesce(1).write.mode(SaveMode.Append).parquet(pairsSub.path(storePath))
    }
  }

  /** The accumulated verified ED-1 pair relation — exact across the
    * replay residual window and under re-sent urls (urls are values;
    * distinct is the whole collapse).
    */
  def pairs(spark: SparkSession, storePath: String): DataFrame =
    pairsSub.read(spark, storePath)

  /** Every ingested url (the accumulated frontier). */
  def urls(spark: SparkSession, storePath: String): DataFrame =
    varsSub.raw(spark, storePath).select("url").distinct()

  /** Collapse replay-residual duplicates and per-batch small files
    * (`StoreMaintenance.compactStore`).
    */
  def compactStore(spark: SparkSession, storePath: String): Unit =
    StoreMaintenance.compactStore(spark, storePath, subs)

  def recoverStore(spark: SparkSession, storePath: String): Unit =
    StoreMaintenance.recoverStore(spark, storePath, subs)
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Incremental graph analytics over an EDGE-DELTA stream — the
  * streaming twin of the batch `Graph.pageRank` (whose nation-graph
  * output is the oracle-checked `q_pagerank`).
  *
  * CONTRACT — edge weights are ADDITIVE DELTAS: each micro-batch
  * appends (src, dst, w) contributions and the served edge relation is
  * the per-(src, dst) SUM over everything accumulated. That is exactly
  * the shape of count/sum-weighted graphs (the nation trade graph's
  * w = lineitem count), so a partition of the fact stream into any
  * batching accumulates to the batch-computed edge relation
  * bit-for-bit, and PageRank over the accumulated store equals the
  * batch fixpoint under the SAME oracle (GraphStreamSpec proves replay
  * equality; the `q_pagerank_streamed` row hash-checks it).
  * Replay, compaction and crash recovery are the `StoreMaintenance`
  * kernel's; the high-water mark below is this store's addition.
  *
  * Rank serving is VERSION-KEYED (the `streamedIvf` memo protocol):
  * the power iteration runs only when the store's change witness
  * (row count, latest stamp) moves; an unchanged store serves the
  * persisted node-sized rank relation with zero iteration work.
  *
  * STORE LAYOUT under `storePath`:
  *   - `edges/` (src, dst, w, ingest_ms, batch): per-batch contribution
  *     rows (batch-locally pre-summed — map-side combine before the
  *     write), stamped with the owning batchId AND the append stamp.
  *     Contributions are ADDITIVE and therefore NOT collapsible by key
  *     the way the dedup/embed stores' rows are — a naive re-append in
  *     the at-least-once residual window (crash after the append,
  *     before the marker) would DOUBLE-COUNT weights. Every read and
  *     compaction therefore keeps, per batchId, only the rows carrying
  *     that batch's LATEST append stamp (all rows of one append share
  *     one stamp), so a replayed append SUPERSEDES its crashed
  *     predecessor instead of adding to it — the latest-wins version
  *     rule of `StreamingDedup.canonicalByDoc`, applied at batch
  *     granularity;
  *   - `_graft_commits/<scope>/<batchId>`: idempotent-replay markers;
  *   - `_graft_hwm/<scope>`: the compaction HIGH-WATER MARK, PER
  *     COMMIT SCOPE — the largest real batchId of that scope whose rows
  *     were absorbed into the collapsed store. The value stores
  *     (dedup/embed/fuzzy) may drop their markers at compaction because
  *     a replayed re-append collapses by key; here the collapsed rows
  *     live under synthetic batch -1, where the latest-stamp-per-batch
  *     rule can no longer supersede a replay of the original batchId —
  *     without the mark, a batch in the at-least-once residual window
  *     (append committed, marker write crashed) or the checkpoint-
  *     commit window (marker written, stream checkpoint commit crashed)
  *     replayed after a compact would ADD its deltas to the collapsed
  *     sums. `processBatch` therefore skips every batchId at or below
  *     ITS OWN SCOPE's mark, which is sound because a visible append is
  *     a COMPLETE append (the file-commit protocol exposes nothing
  *     mid-job), so everything at or below the mark is fully in the
  *     store by construction. The mark is per scope because batchIds
  *     are per CHECKPOINT: a stream restarted post-compact with a new
  *     checkpoint dir gets a new scope whose batchIds restart at 0, and
  *     a scope-blind mark would silently drop all of its early batches
  *     (the r14 ADVICE hole). An unknown scope has no mark and ingests
  *     from batch 0;
  *   - `_graft_schema`: the store's node-key type (catalog string,
  *     e.g. `bigint` / `string`), written by the first append and read
  *     back by every accessor — the key type is STORE state, not a
  *     per-call parameter a later caller can get wrong.
  *
  * RETRACTIONS are supported: deltas may be negative, and a key whose
  * deltas net to zero is DROPPED from the served edge relation (and
  * from the compacted store) so the accumulated edge SET — which
  * `q_hits_streamed`/`q_bfs_streamed` consume bare — always equals the
  * batch edge relation built from the same surviving facts.
  */
object StreamingGraph {

  private[graft] def hwmPath(store: String, scope: String) = s"$store/_graft_hwm/$scope"
  private[graft] def schemaPath(store: String) = s"$store/_graft_schema"

  /** Synthetic scope of compaction-collapsed rows (batch -1). Real
    * scopes come from `StoreMaintenance.commitScope` / the "default"
    * fallback and are never empty.
    */
  private val CollapsedScope = ""

  /** Node keys are Long by default (the nation graph); the doc/term
    * graphs key on STRINGS (URLs, terms). The store's key type is
    * persisted in the `_graft_schema` sidecar by the first append;
    * accessors resolve it from there and use the parameter only for a
    * never-written store (empty read) or the first ingest cast.
    */
  private def edgeSchema(keyType: DataType) = StructType(Seq(
    StructField("src", keyType),
    StructField("dst", keyType),
    StructField("w", LongType),
    StructField("ingest_ms", LongType),
    StructField("batch", LongType),
    StructField("scope", StringType)))

  /** The edge sub-store under a key type, collapsed by the shared
    * read/compact rule (`netEdges`).
    */
  private def edgesSub(keyType: DataType) =
    StoreMaintenance.SubStore("edges", edgeSchema(keyType))(netEdges)

  /** The authoritative key type: the persisted sidecar if the store has
    * ever been written, the caller's parameter otherwise.
    */
  private[graft] def resolveKeyType(conf: org.apache.hadoop.conf.Configuration,
                                    storePath: String, fallback: DataType): DataType =
    StoreMaintenance.readText(conf, schemaPath(storePath))
      .fold(fallback)(t => DataType.fromDDL(t.trim))

  /** `edgesSub` under the store's resolved key type. */
  private def edgesOf(spark: SparkSession, storePath: String, keyType: DataType) =
    edgesSub(resolveKeyType(spark.sparkContext.hadoopConfiguration, storePath, keyType))

  /** Start the incremental edge-delta sink: `contribs` must stream
    * (src, dst, w) rows.
    */
  def sinkEdges(contribs: DataFrame, storePath: String,
                checkpointDir: String,
                keyType: DataType = LongType): StreamingQuery =
    StoreMaintenance.sink(contribs, storePath, checkpointDir) { (batch, batchId, scope) =>
      processBatch(batch, batchId, storePath, scope, keyType)
    }

  /** One idempotent incremental micro-batch (testable replay unit).
    * @return false = replay of a committed batchId, skipped.
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long, storePath: String,
                                  scope: String = "default",
                                  keyType: DataType = LongType): Boolean = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    // compaction high-water mark FOR THIS SCOPE: everything at or below
    // is already in the collapsed store (batch -1), where a re-append
    // could no longer be superseded — skip the replay outright. Other
    // scopes' marks are irrelevant: batchIds are per checkpoint, so a
    // fresh-checkpoint restart (new scope, batch 0) must ingest.
    if (batchId <= readHwm(conf, storePath, scope)) return false
    // the sidecar, not the parameter, is authoritative on an existing
    // store — a caller's stale default can no longer force a mistyped
    // cast onto established data
    val kt = resolveKeyType(conf, storePath, keyType)
    StoreMaintenance.runOnce(conf,
      storePath, scope, batchId) {
      // sidecar first: idempotent content, and a crash between sidecar
      // and append leaves only a correct type record behind
      StoreMaintenance.writeText(conf, schemaPath(storePath), kt.catalogString)
      val stamp = StoreMaintenance.nextStamp()
      batch.select(col("src").cast(kt), col("dst").cast(kt),
          col("w").cast("long"))
        .groupBy("src", "dst").agg(sum(col("w")).as("w"))
        .withColumn("ingest_ms", lit(stamp))
        .withColumn("batch", lit(batchId))
        .withColumn("scope", lit(scope))
        .coalesce(1) // small per-batch appends: one file, not one per task
        .write.mode(SaveMode.Append).parquet(edgesSub(kt).path(storePath))
    }
  }

  /** The accumulated edge relation: per-(src, dst) delta sum over the
    * latest-stamp rows of every batch.
    */
  def edges(spark: SparkSession, storePath: String,
            keyType: DataType = LongType): DataFrame =
    edgesOf(spark, storePath, keyType).read(spark, storePath).select("src", "dst", "w")

  /** Per (scope, batchId), only the rows of the LATEST append survive
    * (a residual-window replay supersedes its crashed predecessor — see
    * the layout doc); the keep relation is batch-count-sized. Keyed on
    * the PAIR because batchIds are per checkpoint: two scopes both
    * carry a batch 0, and a batch-only rule would let the newer scope's
    * append silently supersede the older scope's rows.
    */
  private def latestPerBatch(e: DataFrame): DataFrame = {
    val ms = coalesce(col("ingest_ms"), lit(Long.MinValue))
    val keep = e.groupBy("scope", "batch").agg(max(ms).as("_keep_ms"))
      .withColumnRenamed("batch", "_keep_batch")
      .withColumnRenamed("scope", "_keep_scope")
    e.join(keep, col("batch") <=> col("_keep_batch") &&
        col("scope") <=> col("_keep_scope") && ms === col("_keep_ms"))
      .select("src", "dst", "w", "ingest_ms", "batch", "scope")
  }

  /** The deterministic collapse rule shared by reads and compaction.
    * Compaction writes this relation back, so the collapsed rows form
    * ONE synthetic batch (-1 is no real batchId, so it can never be
    * superseded by a replay) sharing ONE stamp — per-key stamps would
    * make a later latest-per-batch pass drop all but the newest row.
    * Keys whose deltas net to ZERO are dropped: a retraction that
    * cancels a weight removes the edge from the served SET, keeping
    * the bare-edge consumers (HITS/BFS) equal to the batch relation
    * over the surviving facts.
    */
  private def netEdges(e: DataFrame): DataFrame =
    latestPerBatch(e).groupBy("src", "dst")
      .agg(sum(col("w")).as("w"))
      .filter(col("w") =!= 0)
      .withColumn("ingest_ms", lit(0L))
      .withColumn("batch", lit(-1L))
      .withColumn("scope", lit(CollapsedScope))

  /** Change witness of the edge sub-store (`StoreMaintenance.version`). */
  private[graft] def storeVersion(spark: SparkSession, storePath: String,
                                  keyType: DataType = LongType): (Long, Long) =
    StoreMaintenance.version(spark, storePath, edgesOf(spark, storePath, keyType))

  /** A version-keyed DERIVED structure over the accumulated edges:
    * `compute` runs only when the store's change witness moves; an
    * unchanged store serves the persisted result. The whole iterative
    * graph family snapshots a live edge stream this way — the
    * `streamedIvf` memo protocol with the edge store as the base.
    */
  def derived(spark: SparkSession, storePath: String, name: String,
              keyType: DataType = LongType)
             (compute: DataFrame => DataFrame): DataFrame = {
    val ver = storeVersion(spark, storePath, keyType)
    graft.sources.SessionStores.parquet(spark, "graft_graphstream",
        s"${name}_v${ver._1}_${ver._2}", storePath) {
      compute(edges(spark, storePath, keyType))
    }
  }

  /** The version-keyed rank store: PageRank over the accumulated edges,
    * recomputed only when the store version moves, served from the
    * persisted node-sized relation otherwise. Deterministic by the
    * batch operator's own protocol (DECIMAL inflow sums, 6-dp rounds),
    * so replayed/differently-batched ingests of the same fact stream
    * serve the identical fixpoint.
    */
  def ranks(spark: SparkSession, storePath: String, nodes: DataFrame,
            iters: Int = 8, damping: Double = 0.85): DataFrame =
    derived(spark, storePath, "pr") { e =>
      graft.operators.Graph.pageRank(e, nodes, iters, damping)
    }

  /** The largest batchId OF THIS SCOPE absorbed by a compaction
    * (Long.MinValue if never compacted, or if this scope is new) —
    * `processBatch` skips replays at or below it.
    */
  private[graft] def readHwm(conf: org.apache.hadoop.conf.Configuration,
                             storePath: String, scope: String): Long =
    StoreMaintenance.readText(conf, hwmPath(storePath, scope)).fold(Long.MinValue)(_.trim.toLong)

  /** Collapse replay-residual duplicates and per-batch small files —
    * the collapse IS the accessor's sum rule, so served edges never
    * flip across a compact (the `SubStore` declaration). NOTE the
    * collapse changes the raw row count, so the store version moves
    * and the next `ranks` read rebuilds once — to the same fixpoint,
    * since the collapsed edges are equal by construction.
    *
    * ORDER matters for crash safety: the high-water mark (max over the
    * previous mark, every committed marker, and every batchId visible
    * in the store — a visible append is a complete one) is persisted
    * BEFORE the collapse rewrite. Advancing the mark early is sound —
    * everything at or below it is already fully in the store, so
    * skipping its replay is correct whether or not the collapse then
    * lands; writing it late would leave a crash window in which the
    * store is collapsed but replays at the mark still re-append.
    * Markers are deleted last (value semantics never depended on them
    * post-compact here either — the mark subsumes them).
    */
  def compactStore(spark: SparkSession, storePath: String,
                   keyType: DataType = LongType): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val edges = edgesOf(spark, storePath, keyType)
    StoreMaintenance.assertIngestStopped(conf, storePath) // before the hwm write below
    // a crashed swap must be restored before the stored maxima are read
    StoreMaintenance.recoverSub(spark, edges.path(storePath))
    val commits = new org.apache.hadoop.fs.Path(StoreMaintenance.commitsDir(storePath))
    val fs = commits.getFileSystem(conf)
    // per-scope marker maxima: markers live under <scope>/<batchId>
    val markerMax = scala.collection.mutable.Map[String, Long]()
    if (fs.exists(commits)) {
      val it = fs.listFiles(commits, true)
      while (it.hasNext) {
        val p = it.next().getPath
        val (scope, name) = (p.getParent.getName, p.getName)
        try markerMax(scope) = math.max(markerMax.getOrElse(scope, Long.MinValue), name.toLong)
        catch { case _: NumberFormatException => () }
      }
    }
    // per-scope stored maxima: a residual-window batch (append visible,
    // marker crashed) has rows but no marker — its scope rides the rows
    val storedMax = edges.raw(spark, storePath)
      .filter(col("batch") >= 0 && col("scope").isNotNull)
      .groupBy("scope").agg(max(col("batch")).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // scopes with an existing mark must not regress it
    val hwmDir = new org.apache.hadoop.fs.Path(s"$storePath/_graft_hwm")
    val marked =
      if (!fs.exists(hwmDir)) Seq.empty[String]
      else fs.listStatus(hwmDir).toSeq.map(_.getPath.getName)
        .filterNot(_.endsWith(".tmp")) // a crashed `writeText` leftover
    val scopes = (markerMax.keySet ++ storedMax.keySet ++ marked) - CollapsedScope
    for (scope <- scopes) {
      val hwm = Seq(readHwm(conf, storePath, scope),
        markerMax.getOrElse(scope, Long.MinValue),
        storedMax.getOrElse(scope, Long.MinValue)).max
      if (hwm > Long.MinValue)
        StoreMaintenance.writeText(conf, hwmPath(storePath, scope), hwm.toString)
    }
    StoreMaintenance.compactStore(spark, storePath, Seq(edges))
  }

  def recoverStore(spark: SparkSession, storePath: String): Unit =
    StoreMaintenance.recoverStore(spark, storePath, Seq(edgesOf(spark, storePath, LongType)))
}

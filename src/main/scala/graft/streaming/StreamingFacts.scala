package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Incremental KEYED-FACT store: facts accumulate idempotently under a
  * caller-declared key column, and every analysis is the identical batch
  * declaration over the accumulated relation, hash-checked under the
  * batch query's oracle. The event store (key `event_id`, serving the
  * behavioral `*_streamed` twins — funnel, retention, transitions,
  * growth accounting, sessionization, SCD2), the corpus of the
  * `q_quality_gate_streamed` family and the lineitem warehouse store
  * are all shaped this way.
  *
  * CONTRACT — facts are IMMUTABLE: a re-sent or replay-re-appended fact
  * is byte-identical to its first copy, so the read accessor's
  * `dropDuplicates(key)` restores exact-once semantics over the
  * at-least-once append (any survivor is THE fact). The accumulated
  * relation therefore equals the batch fact table under ANY partition
  * of the stream into batches — no supersede rule like
  * `StreamingGraph`'s additive deltas, no verify step like the pair
  * stores.
  *
  * The SCHEMA AND KEY ARE STORE STATE, not per-call parameters: the
  * first append persists both in a `_graft_schema` sidecar (key line +
  * DDL line) and accessors resolve from it — the r15 `StreamingGraph`
  * keyType lesson applied from the start. The caller's arguments only
  * matter for a never-written store (empty read / first ingest).
  *
  * Replay, compaction and crash recovery are the `StoreMaintenance`
  * kernel's.
  */
object StreamingFacts {

  private[graft] def factsPath(store: String) = s"$store/facts"
  private[graft] def schemaPath(store: String) = s"$store/_graft_schema"

  // stores whose batch stamps this process has already proven non-null
  // (the factsAsOf loud guard — see its comment), keyed by a CONTENT
  // SIGNATURE of the facts directory (file names + lengths + mtimes),
  // not the bare path: a store deleted and recreated, compacted, or
  // externally appended between two factsAsOf calls changes the
  // signature and re-arms the probe — a memo keyed by path alone would
  // skip the check and let an unstamped row be SILENTLY dropped by the
  // `<= batch` filter, exactly the failure the guard exists to catch.
  // The signature is one driver-side FileStatus listing (metadata only,
  // bounded by the compaction-kept file count), not a data read.
  private val stampChecked =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** (signature, newest file mtime). The signature alone has a
    * granularity edge: a file REPLACED in place with the same name,
    * length and mtime tick is invisible to it (r20 ADVICE). Callers
    * therefore refuse to MEMOIZE a probe whose newest file is younger
    * than the mtime tick (`SigSettleMs`) — a just-written store keeps
    * re-probing (one cheap stats-answered count) until it is quiescent,
    * so the edge window can never be cached over.
    */
  private[graft] val SigSettleMs = 2000L

  private def factsSignature(conf: org.apache.hadoop.conf.Configuration,
                             storePath: String): (String, Long) = {
    val p = new org.apache.hadoop.fs.Path(factsPath(storePath))
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) ("<absent>", 0L)
    else {
      val sts = fs.listStatus(p)
      (sts.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString("|"),
        if (sts.isEmpty) 0L else sts.map(_.getModificationTime).max)
    }
  }

  /** Present ⇔ the facts sub-store is PHYSICALLY key-distinct (a compact
    * ran and nothing appended since): `facts` serves raw, skipping the
    * full-relation `dropDuplicates` exchange a settled warehouse store
    * would otherwise re-pay on every read. `processBatch` clears the
    * marker BEFORE its append lands, so no reader can observe raw rows
    * while a replay residual could exist.
    */
  private[graft] def cleanPath(store: String) = s"$store/_graft_clean"

  /** Physical ingest-batch stamp column carried by every stored row
    * (NOT part of the logical sidecar schema — accessors drop it).
    * Facts are immutable and replays re-carry their original batchId,
    * so the stamp is deterministic per key; it is what `factsAsOf`
    * time-travel filters on, and compaction preserves it.
    */
  private[graft] val batchCol = "_gbatch"

  private def isClean(conf: org.apache.hadoop.conf.Configuration, store: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(cleanPath(store))
    p.getFileSystem(conf).exists(p)
  }

  /** (keyCol, schema) — persisted if the store was ever written, the
    * caller's fallback otherwise.
    */
  private[graft] def resolveShape(conf: org.apache.hadoop.conf.Configuration,
                                  storePath: String,
                                  fallback: (String, StructType)): (String, StructType) =
    StoreMaintenance.readText(conf, schemaPath(storePath)).fold(fallback) { t =>
      val lines = t.split("\n", 2)
      (lines(0).trim, StructType.fromDDL(lines(1).trim))
    }

  /** The physical facts sub-store (logical schema plus the batch stamp)
    * and its compaction collapse: the accessor's key dedup made
    * deterministic in the batch stamp (min-batch survivor; duplicates
    * are byte-identical, so the choice only pins `_gbatch`, keeping
    * `factsAsOf` stable across compaction).
    */
  private def factsSub(key: String, sch: StructType) =
    StoreMaintenance.SubStore("facts", sch.add(batchCol, org.apache.spark.sql.types.LongType)) {
      d =>
        import org.apache.spark.sql.functions.{col, row_number}
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(key).orderBy(col(batchCol).asc_nulls_last)
        d.withColumn("_grk", row_number().over(w))
          .filter(col("_grk") === 1).drop("_grk")
    }

  /** Start the incremental fact sink: `facts` must stream rows carrying
    * every schema column (extra columns are dropped by the cast-select).
    */
  def sinkFacts(facts: DataFrame, storePath: String, checkpointDir: String,
                keyCol: String, schema: StructType): StreamingQuery =
    StoreMaintenance.sink(facts, storePath, checkpointDir) { (batch, batchId, scope) =>
      processBatch(batch, batchId, storePath, keyCol, schema, scope)
    }

  /** One idempotent incremental micro-batch (testable replay unit).
    * @param filesPerBatch ≥1 coalesces the append to that many files
    *                      (the SMALL-append default); 0 keeps the
    *                      batch's task parallelism — fact-table-grain
    *                      ingests (r17: the lineitem warehouse store)
    *                      must not funnel a third of the largest table
    *                      through one write task.
    * @return false = replay of a committed batchId, skipped.
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long, storePath: String,
                                  keyCol: String, schema: StructType,
                                  scope: String = "default",
                                  filesPerBatch: Int = 1): Boolean = {
    val conf = batch.sparkSession.sparkContext.hadoopConfiguration
    val (key, sch) = resolveShape(conf, storePath, (keyCol, schema))
    StoreMaintenance.runOnce(conf, storePath, scope, batchId) {
      // clean marker cleared BEFORE anything lands: a crash mid-append
      // leaves the store (correctly) back on the dedup-at-serve path
      val clean = new org.apache.hadoop.fs.Path(cleanPath(storePath))
      clean.getFileSystem(conf).delete(clean, false): Unit
      // sidecar first: idempotent content, and a crash between sidecar
      // and append leaves only a correct shape record behind
      StoreMaintenance.writeText(conf, schemaPath(storePath), key + "\n" + sch.toDDL)
      val projected = batch.select(sch.fields.toSeq.map(f =>
          org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)
        .withColumn(batchCol, org.apache.spark.sql.functions.lit(batchId))
      (if (filesPerBatch >= 1) projected.coalesce(filesPerBatch) else projected)
        .write.mode(SaveMode.Append).parquet(factsPath(storePath))
    }
  }

  /** The accumulated fact relation — exact-once by the store's key
    * across the replay residual window. A COMPACTED store (clean marker
    * present, nothing appended since) serves raw: the rows are already
    * physically key-distinct, and re-proving exact-once with a
    * full-relation exchange on every read of a settled warehouse store
    * is repeated work that only grows with the fact table.
    */
  def facts(spark: SparkSession, storePath: String,
            keyCol: String, schema: StructType): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (key, sch) = resolveShape(conf, storePath, (keyCol, schema))
    val raw = StoreMaintenance.readOrEmpty(spark, factsPath(storePath), sch)
    if (isClean(conf, storePath)) raw else raw.dropDuplicates(key)
  }

  /** Point-in-time read: the fact relation as of ingest batch
    * `batchId` (inclusive) — exactly the rows a `facts` read would have
    * served once that batch committed. Facts are immutable and replays
    * re-carry their original batchId, so the per-row stamp is
    * deterministic; compaction PRESERVES the stamps (min-batch survivor
    * per key), so time-travel survives maintenance and the high-water
    * read `factsAsOf(maxBatch)` ≡ `facts` always holds.
    */
  def factsAsOf(spark: SparkSession, storePath: String, batchId: Long,
                keyCol: String, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val (key, sch) = resolveShape(conf, storePath, (keyCol, schema))
    // the batch stamp is read with a WIDENED schema, so a row written
    // by a writer that omitted it (pre-stamp store, external append)
    // comes back NULL — which the <= filter would SILENTLY drop, the
    // opposite of the loud-failure discipline. Guard: ONE memoized
    // IsNull probe per (process, store) fails loudly on an unstamped
    // row — kept OUT of the serving expression tree, because a
    // coalesce(raise_error) wrapper around the column defeats the
    // pushed `_gbatch <= batch` scan filter time-travel's pruning
    // depends on (PlanSpec pins it). The probe itself pushes IsNull to
    // the scan, so parquet null-count stats answer it without a full
    // read; the memo re-arms whenever the store's content signature
    // changes (recreate / compact / external append), so a row written
    // after the first probe is still caught.
    val stamped = StoreMaintenance
      .readOrEmpty(spark, factsPath(storePath),
        sch.add(batchCol, org.apache.spark.sql.types.LongType))
    val (sig, newestMtime) = factsSignature(conf, storePath)
    if (stampChecked.get(storePath) != sig) {
      val nNull = stamped.filter(col(batchCol).isNull).count()
      require(nNull == 0L,
        s"factsAsOf: $nNull rows with NULL $batchCol in $storePath — " +
          "store written without batch stamps")
      // memoize only a QUIESCENT store: within the mtime tick a file
      // could still be replaced signature-invisibly (see factsSignature)
      if (System.currentTimeMillis() - newestMtime >= SigSettleMs)
        stampChecked.put(storePath, sig): Unit
    }
    val sliced = stamped
      .filter(col(batchCol) <= batchId)
      .drop(batchCol)
    // a clean store is globally key-distinct, so any batch slice is too
    if (isClean(conf, storePath)) sliced else sliced.dropDuplicates(key)
  }

  /** Collapse replay-residual duplicates and per-batch small files
    * (`StoreMaintenance.compactStore` through `factsSub`'s collapse).
    * Sets the clean marker AFTER the compact so subsequent reads serve
    * dedup-free until the next append.
    */
  def compactStore(spark: SparkSession, storePath: String,
                   keyCol: String, schema: StructType): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (key, sch) = resolveShape(conf, storePath, (keyCol, schema))
    StoreMaintenance.compactStore(spark, storePath, Seq(factsSub(key, sch)))
    val clean = new org.apache.hadoop.fs.Path(cleanPath(storePath))
    clean.getFileSystem(conf).create(clean, true).close()
  }

  def recoverStore(spark: SparkSession, storePath: String): Unit =
    StoreMaintenance.recoverSub(spark, factsPath(storePath))
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The streaming-store kernel: every store under `graft.streaming` is an
  * append → merge → dedupe store built from these parts, so the replay
  * and crash contracts are stated and implemented once.
  *
  *   - MARKER GATE. Each micro-batch runs at most once per (store,
  *     commit scope, batchId): `runOnce` skips a batch whose marker
  *     `<store>/_graft_commits/<scope>/<batchId>` exists and writes the
  *     marker AFTER the batch's appends complete. Delivery is
  *     at-least-once — a crash between the append and the marker replays
  *     that one batch (the residual window), which each store's declared
  *     collapse absorbs. The scope is a digest of the filesystem-qualified
  *     checkpoint location (`commitScope`), because batchIds restart at 0
  *     in every checkpoint lineage.
  *   - REPLAY NOOP. `sink` is the one `foreachBatch` sink: a batch the
  *     gate skipped still executes through the noop sink, so any stateful
  *     upstream operator commits its state store.
  *   - NO WATERMARK-ONLY BATCHES. A store query runs a batch only when
  *     data arrives: `sink` starts it with
  *     `spark.sql.streaming.noDataMicroBatches.enabled=false`, so an
  *     advancing watermark alone (the index's dedup) no longer costs a
  *     second Spark batch with an empty append. State eviction moves to
  *     the next data batch, so state stays bounded by stream lag. Spark
  *     has no per-query setting: the query clones its session inside
  *     `.start()` and reads the flag from the clone once. So the flag is
  *     set on the caller's session around `.start()` only, under one lock
  *     for all sinks, and its prior state ("unset" included) is restored;
  *     streams that need no-data batches to close windows
  *     (`EventPipeline`) keep them. Another thread starting a query on
  *     the same session inside that window would inherit the flag. Every
  *     batch that does run still executes (REPLAY NOOP).
  *   - DECLARED COLLAPSE. A `SubStore` names a parquet sub-directory, its
  *     schema and its collapse rule. Accessors read through `read` and
  *     `compactStore` rewrites through the same rule, so the rows a store
  *     serves are the same before and after a compact.
  *   - RENAME-SWAP CRASH WINDOWS. A compact writes each collapsed
  *     sub-store to `<sub>__compacting`, renames the live dir to
  *     `<sub>__pre_compact`, installs the rewrite and drops the old copy
  *     (`swapInto`). At every crash point either the originals or the
  *     complete rewrite is on disk; `recoverSub` finishes or unwinds the
  *     swap, and compaction recovers first. Compaction then clears the
  *     marker tree (a fresh dedup baseline) and refuses to run while an
  *     ingest query over the store is active (`assertIngestStopped`).
  *
  * `StreamingIndex` and `StreamingSketch` use the gate, the sink, the
  * ingest guard and the text-file helpers but keep their own compaction.
  * The index rewrites a bucketed catalog table and swaps it in through
  * `swapInto`/`recoverSub`. Each sketch family (`StreamingSketch.Family`)
  * merges its text parts `<family>_parts/batch_<id><ext>` into one
  * `compacted_upto_<id><ext>` part and keeps its markers, so a replay of
  * a merged-away batch stays skipped.
  */
object StoreMaintenance {

  /** In-process registry of active ingest queries per (qualified) store
    * path — every `sink*` start registers here, and every compact
    * REFUSES while ANY registered query over the path is still active:
    * compacting under a live appender would race the directory swap,
    * silently corrupting the store it claims to maintain. SET-valued:
    * two sinks mistakenly started over one store (exactly the operator
    * error this guard exists to catch) must both stay visible — a
    * last-write-wins slot would let stopping the second unlock a
    * compact while the first still appends. Entries are either live
    * `StreamingQuery`s or PENDING tokens: a sink registers the path
    * BEFORE calling `.start()` (`beginIngest`) and swaps the token for
    * the query afterwards (`completeIngest`), so there is no window in
    * which a compact racing the stream's own startup could pass the
    * guard. In-process scope is the honest contract: a store fed by a
    * query in ANOTHER JVM cannot be detected from here, and the
    * pause-compact-resume discipline for multi-process deployments
    * remains an operational rule.
    */
  private val activeIngest =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[AnyRef]]()

  /** Pending-startup token: counts as ACTIVE for the compact guard until
    * the sink swaps it for the started query (or aborts a failed start).
    */
  private[streaming] final class PendingIngest

  private def entryActive(e: AnyRef): Boolean = e match {
    case q: org.apache.spark.sql.streaming.StreamingQuery => q.isActive
    case _: PendingIngest => true
    case _ => false
  }

  /** One spelling per store: equivalent relative/absolute/scheme-
    * qualified paths must collide in the registry, or a compact aimed at
    * `/tmp/store` would miss the query registered over `file:/tmp/store`.
    */
  private def qualified(path: String,
                        conf: org.apache.hadoop.conf.Configuration): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).makeQualified(p).toString
  }

  /** Register a PENDING ingest over `storePath` — call BEFORE
    * `.start()`, then `completeIngest` with the started query (or
    * `abortIngest` if the start threw). The token holds the compact
    * guard closed across the startup window.
    */
  private[graft] def beginIngest(conf: org.apache.hadoop.conf.Configuration,
                                 storePath: String): PendingIngest = {
    // global sweep of stopped queries on every registration: without it a
    // long-lived JVM starting and stopping many streams over paths it
    // never compacts would pin every StreamingQuery ever started
    activeIngest.values.forEach(_.removeIf(e => !entryActive(e)))
    val token = new PendingIngest
    activeIngest.computeIfAbsent(qualified(storePath, conf),
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet()).add(token)
    token
  }

  /** Swap a pending token for its started query: the query is added
    * BEFORE the token is removed, so the guard never sees a gap.
    */
  private def completeIngest(conf: org.apache.hadoop.conf.Configuration,
                             storePath: String, token: PendingIngest,
                             query: StreamingQuery): Unit = {
    val qs = activeIngest.get(qualified(storePath, conf))
    if (qs != null) { qs.add(query); qs.remove(token): Unit }
  }

  /** Drop a pending token whose `.start()` threw — nothing is appending. */
  private[graft] def abortIngest(conf: org.apache.hadoop.conf.Configuration,
                                 storePath: String, token: PendingIngest): Unit = {
    val qs = activeIngest.get(qualified(storePath, conf))
    if (qs != null) qs.remove(token): Unit
  }

  /** Start a streaming sink with the begin/complete/abort registration
    * bracket.
    */
  private def registeredStart(conf: org.apache.hadoop.conf.Configuration,
                              storePath: String)(
      start: => StreamingQuery): StreamingQuery = {
    val token = beginIngest(conf, storePath)
    val query =
      try start
      catch { case t: Throwable => abortIngest(conf, storePath, token); throw t }
    completeIngest(conf, storePath, token, query)
    query
  }

  /** The one store sink: append-mode `foreachBatch` over `input`, each
    * micro-batch handed to `process(batch, batchId, scope)` with this
    * checkpoint's commit scope. `process` returns false when the marker
    * gate skipped the batch, which then executes through the noop sink.
    * The query runs without watermark-only batches (NO WATERMARK-ONLY
    * BATCHES above).
    */
  private[graft] def sink(input: DataFrame, storePath: String, checkpointDir: String)(
      process: (DataFrame, Long, String) => Boolean): StreamingQuery = {
    val conf = input.sparkSession.sparkContext.hadoopConfiguration
    val scope = commitScope(checkpointDir, conf)
    registeredStart(conf, storePath) {
      withoutNoDataBatches(input.sparkSession) {
        input.writeStream
          .outputMode("append")
          .option("checkpointLocation", checkpointDir)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            if (!process(batch, batchId, scope)) noopExecute(batch)
          }
          .start()
      }
    }
  }

  private val NoDataBatchesKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Keeps two sinks' conf windows from interleaving, which could leave
    * the flag set on the session.
    */
  private val noDataBatchesLock = new Object

  /** Run `start` with no-data batches off on `spark`, then restore the
    * caller's setting (the kernel's NO WATERMARK-ONLY BATCHES rule).
    */
  private def withoutNoDataBatches(spark: SparkSession)(
      start: => StreamingQuery): StreamingQuery =
    noDataBatchesLock.synchronized {
      val prior = spark.conf.getAll.get(NoDataBatchesKey)
      spark.conf.set(NoDataBatchesKey, "false")
      try start
      finally prior.fold(spark.conf.unset(NoDataBatchesKey))(spark.conf.set(NoDataBatchesKey, _))
    }

  /** Marker namespace for one checkpoint lineage. The path is
    * filesystem-QUALIFIED before hashing: equivalent spellings of the
    * same directory (relative vs absolute, trailing slash,
    * scheme-qualified) across a restart must land in the SAME marker
    * scope, or a re-delivered batch would be re-appended — the exact
    * duplication the markers exist to prevent.
    */
  private[graft] def commitScope(checkpointDir: String,
                                 hadoopConf: org.apache.hadoop.conf.Configuration): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(qualified(checkpointDir, hadoopConf).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  /** Throw unless EVERY registered ingest query over `storePath` has
    * stopped (a PENDING startup token counts as active). Stopped entries
    * are swept; EMPTY sets are deliberately left in the map — removing
    * one by identity races a concurrent `beginIngest` that just added an
    * active entry to the same set instance, silently unregistering it.
    * An empty key-set per store-path-ever-compacted is a bounded,
    * harmless residue.
    */
  private[graft] def assertIngestStopped(conf: org.apache.hadoop.conf.Configuration,
                                         storePath: String): Unit = {
    val key = qualified(storePath, conf)
    val qs = activeIngest.get(key)
    if (qs != null) {
      qs.forEach {
        case q: org.apache.spark.sql.streaming.StreamingQuery if q.isActive =>
          throw new IllegalStateException(
            s"compact refused: streaming ingest query ${q.id} is still active over " +
              s"$storePath — stop it first (pause-compact-resume), then compact, " +
              "then restart from the same checkpoint")
        case _: PendingIngest =>
          throw new IllegalStateException(
            s"compact refused: a streaming ingest query is STARTING over $storePath " +
              "— wait for its startup to complete, stop it, then compact")
        case _ => ()
      }
      qs.removeIf(e => !entryActive(e)): Unit
    }
  }

  /** Pause-compact-resume over a whole deployment in one call: verify
    * that NO target still has an active ingest query (all checks run
    * before any compaction starts — a refused store must not leave the
    * others half-maintained), RECOVER any store left mid-swap by a
    * crashed previous maintenance run (idempotent), then compact every
    * streaming index table (`(tableName, path, buckets)` triples — the
    * bucket count is PER TABLE: one global value would silently rewrite
    * a 64-bucket table 32-bucketed and crash its resumed ingest on the
    * bucketing mismatch) and every dedup/embed store.
    */
  def compactAll(spark: SparkSession,
                 indexTables: Seq[(String, String, Int)] = Nil,
                 dedupStores: Seq[String] = Nil,
                 embedStores: Seq[String] = Nil): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    (indexTables.map(_._2) ++ dedupStores ++ embedStores)
      .foreach(assertIngestStopped(conf, _))
    indexTables.foreach { case (tbl, path, buckets) =>
      StreamingIndex.recoverCompact(spark, tbl, path, buckets)
      // a provisioned-but-never-ingested table (no first batch = no
      // files) has nothing to compact — compacting it anyway would throw
      // and leave every LATER store unmaintained. Path presence alone is
      // the invariant: recoverCompact above (re-)registered the catalog
      // entry for any existing path.
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        StreamingIndex.compact(spark, tbl, path, buckets)
    }
    dedupStores.foreach { s =>
      StreamingDedup.recoverStore(spark, s) // compactSubWith also self-heals; explicit for symmetry
      StreamingDedup.compactStore(spark, s)
    }
    embedStores.foreach { s =>
      StreamingEmbed.recoverStore(spark, s)
      StreamingEmbed.compactStore(spark, s)
    }
  }

  /** Strictly-increasing version stamp for store rows (latest-wins
    * collapse): wall-clock ms, bumped past the previous stamp when two
    * calls land in the same millisecond or the clock steps backwards —
    * within one JVM a later batch ALWAYS stamps strictly newer, so a
    * corrective re-send can never tie (and lose) against the version it
    * replaces. ACROSS JVM restarts plain wall clock applies: same-ms
    * ties are impossible (a restart takes far longer), but a clock
    * stepped BACKWARDS across the restart boundary can stamp a newer
    * write older than rows from the previous process — host clock
    * discipline (slewing, not stepping) is an operational requirement
    * of the latest-wins contract, as it is for any wall-clock-versioned
    * store.
    */
  private val lastStamp = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def nextStamp(): Long =
    lastStamp.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  /** The marker tree: `<scope>/<batchId>` files under this directory. */
  private[graft] def commitsDir(store: String): String = s"$store/_graft_commits"

  /** Run `body` exactly once per (store, scope, batchId): if the commit
    * marker exists the body is SKIPPED (a replayed batch) and false is
    * returned; otherwise the body runs, the marker is written AFTER it
    * completes (at-least-once — a crash in between re-runs the body on
    * replay, the stores' documented residual window), and true is
    * returned.
    */
  private[graft] def runOnce(hadoopConf: org.apache.hadoop.conf.Configuration, store: String,
              scope: String, batchId: Long)(body: => Unit): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"${commitsDir(store)}/$scope/$batchId")
    val fs = marker.getFileSystem(hadoopConf)
    if (fs.exists(marker)) false
    else {
      body
      fs.create(marker, true).close()
      true
    }
  }

  /** Execute a SKIPPED replay batch through the noop sink: the engine
    * validates that every stateful operator in the micro-batch committed
    * its state store, and an unexecuted batch fails with
    * STATE_STORE_COMMIT_VALIDATION_FAILED. The noop sink drives the
    * plan — state advances, nothing is written.
    */
  private def noopExecute(batch: DataFrame): Unit =
    batch.write.format("noop").mode("overwrite").save()

  private[graft] def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** One parquet sub-store of a store: the directory `<store>/<name>`,
    * its on-disk schema and the collapse rule that turns the raw
    * appended rows (replay residuals, superseded versions) into the
    * served relation. Built per call when the schema or rule depends on
    * store state (a persisted key type, the current tombstones).
    */
  private[graft] final case class SubStore(name: String, schema: StructType)(
      val collapse: DataFrame => DataFrame) {
    def path(store: String): String = s"$store/$name"
    def raw(spark: SparkSession, store: String): DataFrame =
      readOrEmpty(spark, path(store), schema)
    def read(spark: SparkSession, store: String): DataFrame = collapse(raw(spark, store))
  }

  /** Compact every sub-store through its declared collapse, in the
    * given order, then clear the commit markers. Refuses while an ingest
    * query over the store is active.
    */
  private[graft] def compactStore(spark: SparkSession, storePath: String,
                                  subs: Seq[SubStore]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    assertIngestStopped(conf, storePath)
    subs.foreach(s => compactSubWith(spark, s.path(storePath), s.schema, s.collapse))
    val commits = new org.apache.hadoop.fs.Path(commitsDir(storePath))
    commits.getFileSystem(conf).delete(commits, true): Unit
  }

  /** Finish or unwind a compact interrupted at any crash point, for
    * every sub-store — safe to run unconditionally before restarting
    * ingest.
    */
  private[graft] def recoverStore(spark: SparkSession, storePath: String,
                                  subs: Seq[SubStore]): Unit =
    subs.foreach(s => recoverSub(spark, s.path(storePath)))

  /** Change witness of a sub-store for memos of relations DERIVED from
    * it: (raw row count, latest `ingest_ms` stamp) over the un-collapsed
    * rows. Every append grows the count; a compact only removes rows, so
    * it cannot keep both the count and the max stamp. Null stamps rank
    * as `Long.MinValue`.
    */
  private[graft] def version(spark: SparkSession, storePath: String,
                             sub: SubStore): (Long, Long) = {
    val r = sub.raw(spark, storePath)
      .agg(count(lit(1)), max(coalesce(col("ingest_ms"), lit(Long.MinValue))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) Long.MinValue else r.getLong(1))
  }

  /** UTF-8 content of a small sidecar file, or None if it is absent. */
  private[graft] def readText(conf: org.apache.hadoop.conf.Configuration,
                              path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0L, buf) finally in.close()
      Some(new String(buf, java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Write a small UTF-8 file atomically for readers: tmp write, then
    * rename over the destination, with the rename result CHECKED
    * (HDFS-like filesystems report failure by returning false, not
    * throwing — an unchecked rename could let a commit marker land with
    * no file behind it).
    */
  private[graft] def writeText(conf: org.apache.hadoop.conf.Configuration,
                               path: String, content: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(conf)
    val dir = dst.getParent
    if (!fs.exists(dir)) fs.mkdirs(dir): Unit
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false): Unit
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"rename $tmp -> $dst failed")
  }

  /** Collapse one parquet sub-store: rewrite it through `collapse` to a
    * side directory, then swap it in via two renames — a crash at any
    * point leaves every row recoverable on disk (`recoverSub` finishes
    * or unwinds), never a half-compacted live store.
    *
    * Recovers FIRST: a previous compact may have crashed between the
    * renames, leaving the rows only in a side directory. A silent no-op
    * on the missing live dir, followed by the caller's commit-marker
    * clear, would report success while this sub-store serves empty reads
    * — so the crashed state is restored (idempotent) before compacting.
    * Only a store with NO live dir and NO side dirs — genuinely never
    * written — is a true no-op.
    */
  private def compactSubWith(spark: SparkSession, path: String, schema: StructType,
                             collapse: DataFrame => DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    recoverSub(spark, path) // restores a crashed swap; clears side-dir residue
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return
    collapse(readOrEmpty(spark, path, schema))
      .write.mode(SaveMode.Overwrite).parquet(path + "__compacting")
    swapInto(spark, path)
  }

  /** The two-rename directory swap every compaction ends with: install
    * the completed `<path>__compacting` rewrite at `path`, moving the
    * previous live directory aside as `<path>__pre_compact` and dropping
    * it once the install lands; the sessions' resolved `servedPath`
    * relations of `path` are dropped with it (`SessionStores.unresolve`),
    * since they list the old files. A crash at any point leaves either the
    * originals or the rewrite complete on disk (`recoverSub`'s crash
    * windows) — shared so the index compact and the sub-store compacts
    * cannot drift.
    */
  private[graft] def swapInto(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val (live, tmp, old) =
      (new Path(path), new Path(path + "__compacting"), new Path(path + "__pre_compact"))
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true) // residue of a previous crashed compact
    if (!fs.rename(live, old))
      throw new java.io.IOException(s"swapInto: cannot move $path aside")
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"swapInto: cannot install $tmp at $path")
    graft.sources.SessionStores.unresolve(path)
    fs.delete(old, true): Unit
  }

  /** Finish or unwind an interrupted `compactSub`-style rename swap at
    * ANY crash point. A live path survives as-is (pending rewrites
    * discarded); a swapped-out one is restored from whichever complete
    * side directory survives (`__compacting` preferred — it was written
    * complete before the first rename — falling back to the
    * `__pre_compact` originals); nothing at all is a no-op.
    */
  private[graft] def recoverSub(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val (tmp, old) = (new Path(path + "__compacting"), new Path(path + "__pre_compact"))
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live)) {
      if (fs.exists(tmp)) {
        if (!fs.rename(tmp, live))
          throw new java.io.IOException(s"recoverSub: cannot install $tmp at $path")
      } else if (fs.exists(old)) {
        if (!fs.rename(old, live))
          throw new java.io.IOException(s"recoverSub: cannot restore $old at $path")
      }
      graft.sources.SessionStores.unresolve(path)
    }
    fs.delete(tmp, true); fs.delete(old, true): Unit
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.Text

/** Streaming index build (SURVEY §2.2): the SAME tokenize → distinct →
  * explode pipeline as the batch `InvertedIndex.postings`, declared over
  * a document stream. Emits the posting relation incrementally in append
  * mode; a downstream `writeStream.format("parquet")` lands it
  * partition-by-partition, and the batch K2 bucketed sink compacts
  * periodically.
  *
  * Cross-batch (term, doc) dedupe uses `dropDuplicatesWithinWatermark`:
  * re-deliveries inside the watermark horizon are dropped and state is
  * EVICTED once the watermark passes — state stays bounded by stream lag
  * (the reference's R3 dedupe assumes a finite batch; an unbounded
  * stream needs exactly this horizon trade-off).
  *
  * Input schema: `doc_id LONG, url STRING, text STRING, ingest_t
  * TIMESTAMP` (arrival time for the watermark).
  */
object StreamingIndex {

  def postingsStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ingest_t", watermark)
      .select(col("doc_id"), col("url"), col("ingest_t"),
        explode(Text.terms(col("text"))).as("term"))
      .dropDuplicatesWithinWatermark("term", "doc_id")
      .select("term", "doc_id", "url")

  /** Land the streaming posting relation in the SAME term-bucketed table
    * layout the batch K2 sink writes (`Sinks.writeIndex`): `foreachBatch`
    * appends each micro-batch with identical bucketing, so point/boolean
    * queries over the growing table keep bucket pruning — the streaming
    * half of "build once, query many". Each micro-batch append writes
    * one file per bucket per state partition (the dedup's
    * `spark.sql.shuffle.partitions` tasks each write their own bucket
    * files: 128 files per batch at 4 partitions and 32 buckets); run the
    * batch sink periodically to compact (the standard streaming-ingest +
    * batch-compaction split).
    *
    * REPLAY SAFETY is the kernel's marker gate (`StoreMaintenance`):
    * `foreachBatch` is at-least-once, and a blind append of a
    * re-delivered batch would duplicate its (term, doc_id) rows, silently
    * breaking consumers that rely on posting uniqueness (`BooleanQuery
    * .and` counts plain hits). Exact-once would need a transactional
    * table format, so readers that must be exact across an uncompacted
    * residual window should `dropDuplicates("term", "doc_id")` first;
    * `compact` restores uniqueness.
    */
  def sinkToIndex(postings: DataFrame, tableName: String, path: String,
                  checkpointDir: String, buckets: Int = 32): StreamingQuery =
    StoreMaintenance.sink(postings, path, checkpointDir) { (batch, batchId, scope) =>
      appendBatch(batch, batchId, tableName, path, buckets, scope)
    }

  /** One idempotent micro-batch append (factored out of `sinkToIndex` so
    * replay behavior is directly testable). @return whether the batch was
    * appended (false = replay of an already-committed batchId within the
    * same checkpoint scope, skipped).
    */
  private[graft] def appendBatch(batch: DataFrame, batchId: Long, tableName: String,
                                 path: String, buckets: Int,
                                 scope: String = "default"): Boolean = {
    val spark = batch.sparkSession
    StoreMaintenance.runOnce(spark.sparkContext.hadoopConfiguration,
      path, scope, batchId) {
      // Register the external table BEFORE the first append of this
      // session: a table-CREATING `saveAsTable(Append)` is a CTAS, and
      // Spark's CTAS job CLEARS the target location — in a fresh session
      // over an existing on-disk index (catalog entry gone after a JVM
      // restart, files still there) that would silently wipe every
      // committed batch AND the marker tree before writing the new one.
      // Registering first makes the append always take the
      // insert-into-existing-table path, which never clears.
      if (!spark.catalog.tableExists(tableName))
        registerBucketedTable(spark, tableName, path, buckets, batch.schema.toDDL)
      batch.write.mode(SaveMode.Append)
        .option("path", path)
        .bucketBy(buckets, "term").sortBy("term")
        .saveAsTable(tableName)
    }
  }

  /** Compact a streaming-appended index table (the periodic batch half of
    * the streaming-ingest + batch-compaction split `sinkToIndex`
    * documents): rewrite the accumulated files (one per bucket per
    * state partition per batch) through the batch K2 layout, restoring
    * (term, doc_id) uniqueness across the replay residual window (`url`
    * is functionally dependent on `doc_id`, so dropping duplicate keys
    * loses nothing) and collapsing each bucket to a single file.
    *
    * MUST run while ingest into `tableName` is stopped (stop the
    * `sinkToIndex` query, compact, restart from the same checkpoint) —
    * the standard pause-compact-resume discipline; compacting under a
    * live appender would race the directory swap. Enforced in-process:
    * the call REFUSES (throws) while a `sinkToIndex` query registered
    * over `path` is still active (`StoreMaintenance.assertIngestStopped`;
    * `StoreMaintenance.compactAll` runs the whole deployment's
    * compactions behind one such check).
    *
    * The rewrite goes to a side directory, then swaps in via two
    * renames, so the data rewrite and the committed-marker clearing are
    * one directory replacement rather than two windows:
    *   1. write compacted table files to `<path>__compacting`;
    *   2. rename `<path>` → `<path>__pre_compact` (data + marker tree
    *      leave together), rename `<path>__compacting` → `<path>`,
    *      delete `<path>__pre_compact`;
    *   3. re-register `tableName` over `<path>` with the same bucket
    *      spec.
    * A crash between the renames leaves every row recoverable on disk
    * (`__pre_compact` or `__compacting`) — never a half-compacted mix
    * under the live path; `recoverCompact` finishes or unwinds an
    * interrupted run from any of these states.
    *
    * Clearing markers establishes a fresh dedup baseline: if the stopped
    * stream later resumes from a micro-batch whose engine checkpoint
    * commit didn't complete, that one batch re-appends (at-least-once)
    * and the NEXT compaction collapses it — the same residual-window
    * contract as `sinkToIndex`, now bounded per compaction cycle instead
    * of accumulating marker files forever.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, tableName: String,
              path: String, buckets: Int = 32): Unit = {
    StoreMaintenance.assertIngestStopped(spark.sparkContext.hadoopConfiguration, path)
    val tmpTable = tableName + "__compacting"
    // `sinkToIndex` appends through the stream's own session, so a session
    // that read the table before the last batches keeps a stale file list;
    // rewriting from it would silently drop those batches
    spark.catalog.refreshTable(tableName)
    val compacted = spark.table(tableName).dropDuplicates("term", "doc_id")
    val schemaDdl = compacted.schema.toDDL
    graft.sources.Sinks.writeIndex(compacted, tmpTable, path + "__compacting", buckets)
    spark.sql(s"DROP TABLE IF EXISTS ${quoteIdent(tmpTable)}") // files stay (external path)
    // Renames FIRST, catalog swap LAST: a crash mid-rename leaves the old
    // catalog entry pointing at whichever complete directory survives
    // (`path` or `__pre_compact`), and a crash before the swap leaves the
    // table registered over the already-compacted files — at no point is
    // the table unregistered while a reader could arrive. The swap itself
    // is the shared StoreMaintenance machinery (same crash windows as the
    // dedup/embed store compacts, recovered by the same recoverSub).
    StoreMaintenance.swapInto(spark, path)
    // re-register the table over the compacted files with the identical
    // bucket spec (bucket ids live in the file names, so the new catalog
    // entry keeps bucket pruning over the renamed files). DROP + CREATE is
    // the narrowest remaining window, and runs only after the data swap
    // is durable — recovery from a crash here is `recoverCompact` (which
    // re-runs this DDL).
    registerBucketedTable(spark, tableName, path, buckets, schemaDdl)
  }

  /** Recover from a compact() interrupted at ANY point — the executable
    * form of the crash-recovery contract compact() documents. Safe to run
    * unconditionally before restarting ingest after an unclean shutdown:
    *   - crash BEFORE the first rename: the live path is intact; the
    *     side-dir rewrite (`__compacting`) is discarded — compact simply
    *     re-runs later;
    *   - crash BETWEEN the renames: the live path is absent and the
    *     compacted files sit complete in `__compacting` — they are
    *     installed at the live path and the pre-compact copy dropped
    *     (falling back to the `__pre_compact` originals if the rewrite
    *     is gone, e.g. manually cleared);
    *   - crash AFTER the swap but before/inside the DDL: the files are
    *     already final — the table is just re-registered.
    * In every case the catalog entry is re-created over the surviving
    * live path with the identical bucket spec, and both side directories
    * are cleared, so a subsequent compact() starts clean. When NO state
    * exists at all (fresh deployment, or a crash before the first batch
    * ever appended) there is nothing to recover and the call is a no-op
    * — "run unconditionally" must hold for a restart script's first run.
    */
  def recoverCompact(spark: org.apache.spark.sql.SparkSession, tableName: String,
                     path: String, buckets: Int = 32): Unit = {
    // the path-level rename-swap recovery is the shared store machinery
    // (install __compacting, else restore __pre_compact, clear side
    // dirs); only the catalog re-registration is index-specific
    StoreMaintenance.recoverSub(spark, path)
    val dst = new org.apache.hadoop.fs.Path(path)
    if (!dst.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dst))
      return // fresh deployment: nothing to recover, nothing to register
    val schemaDdl = spark.read.parquet(path).schema.toDDL
    registerBucketedTable(spark, tableName, path, buckets, schemaDdl)
  }

  /** (Re-)register `tableName` as an external bucketed parquet table over
    * `path` — the shared final step of compact() and recoverCompact().
    */
  private def registerBucketedTable(spark: org.apache.spark.sql.SparkSession,
                                    tableName: String, path: String, buckets: Int,
                                    schemaDdl: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${quoteIdent(tableName)}")
    spark.sql(
      s"""CREATE TABLE ${quoteIdent(tableName)} ($schemaDdl) USING PARQUET
         |CLUSTERED BY (term) SORTED BY (term) INTO $buckets BUCKETS
         |LOCATION '${path.replace("'", "''")}'""".stripMargin): Unit
  }

  /** Backtick-quote a (possibly db-qualified) table identifier for
    * interpolation into generated DDL.
    */
  private def quoteIdent(name: String): String =
    name.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")
}

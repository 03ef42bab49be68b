package graft.util

import org.apache.spark.sql.SparkSession

/** The ONE place the engine's session pins live. Every entry point
  * (Verify, Bench, TimeQuery, PlanDump, the test session) builds
  * through here, so a new config pin lands once instead of drifting
  * across N copy-pasted builders (r17 review: the
  * `enablePartialResults` pin had to be added in four places and the
  * fifth builder missed it).
  *
  * Pins and why:
  *   - shuffle.partitions = caller's core count (local mode — 200
  *     default just fragments tiny exchanges);
  *   - UTC session timezone (date/timestamp parity with the DuckDB
  *     oracle);
  *   - nanosAsLong (events.parquet ships TIMESTAMP(NANOS) in some
  *     generations — see Tables.events);
  *   - json.enablePartialResults OFF (r16 ADVICE: a jar bump that
  *     retains partially-parsed fields on malformed records would
  *     silently flip the q_bad_records quarantine masses);
  *   - the engine's Catalyst extensions (native codegen expressions);
  *   - `fs.file.impl` and `fs.AbstractFileSystem.file.impl` = the
  *     fork-free local filesystem (`LocalFs.scala`). Without a native
  *     `libhadoop`, stock Hadoop forks `chmod` on every file create and
  *     `mkdirs`, and `readlink` twice per `FileContext` rename (streaming
  *     checkpoints, state stores): one 4-core perfbench ingest run
  *     (seed 7) started 2,674 processes, 1,979 `chmod` and 688
  *     `readlink`, and the wait showed as task run time with almost no
  *     CPU samples. With the pins the same run starts 8: six `rm` from
  *     Spark's temp-dir cleanup, one `getconf`, and the `setsid` probe
  *     Hadoop's `Shell` runs once when it loads; no `chmod` and no
  *     `readlink`. Same files on disk, `.crc` included. Unpinned, `file:`
  *     resolves to hive-exec's service-loaded `ProxyLocalFileSystem`
  *     (a filter over the same `LocalFileSystem`).
  *
  * Bucketed scans are left to two rules, with no pin: Spark's
  * `DisableUnnecessaryBucketedScan` (on by default) flattens a bucketed
  * scan no operator needs the partitioning of — a term lookup — and the
  * engine's `PrunedBucketScan` flattens a bucket-pruned scan whenever
  * doing so adds no shuffle (phrase, AND-NOT, the BM25 tf slice). A flat
  * scan still reads only the files of the selected buckets.
  */
object EngineSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.json.enablePartialResults", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
}

package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Index sinks (reference K2, `reducer/src/processor.py:90-113`).
  *
  * The engine-native durable artifact is a TERM-BUCKETED parquet table
  * (`writeBucketed`): bucketed by term and sorted by term within each
  * bucket, so a point lookup (`term = 'x'`) or an `isin` filter prunes
  * to the matching buckets at planning time — no shuffle, no full scan.
  * That is the 100 TB answer to the reference's "rebuild the index to
  * answer a query" shape: build once, then every boolean/point query
  * reads a few bucket files.
  *
  * A reference-format JSON envelope writer is provided for compatibility
  * (`{metadata:{...}, index:{term:[{doc_id,url},...]}}`). It materializes
  * the index on the driver, which is exactly what the reference's
  * single-reducer sink does — use it for interop/debug only, never at
  * scale.
  */
object Sinks {

  /** The bucket count of every bucketed store and index table. */
  val Buckets = 32

  /** Write a posting relation (`term, doc_id, url`) or a nested index
    * (`term, postings`) as a term-bucketed, per-bucket-sorted parquet
    * table registered under `tableName` with files at `path`.
    */
  def writeIndex(df: DataFrame, tableName: String, path: String, buckets: Int = Buckets): Unit =
    writeBucketed(df, tableName, path, "term", buckets, SaveMode.Overwrite)

  /** THE bucketed layout: `df` as the parquet table `tableName` over
    * `path`, `buckets` buckets by `key`, each bucket sorted by `key`.
    * Two tables bucketed alike on their join keys join without an
    * exchange. `registerIndex` is the same layout as DDL.
    */
  private[graft] def writeBucketed(df: DataFrame, tableName: String, path: String, key: String,
                                   buckets: Int, mode: SaveMode): Unit =
    df.write
      .mode(mode)
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(tableName)

  /** (Re-)register `tableName` with columns `schemaDdl` as the external
    * term index table `writeBucketed` writes over `path` (`key` "term").
    * The directory is created first: resolving a table over a missing
    * path makes Spark log a `FileNotFoundException` at WARN although
    * nothing failed.
    */
  private[graft] def registerIndex(spark: SparkSession, tableName: String, path: String,
                                   buckets: Int, schemaDdl: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(dir)
    spark.sql(s"DROP TABLE IF EXISTS ${quoteIdent(tableName)}")
    spark.sql(
      s"""CREATE TABLE ${quoteIdent(tableName)} ($schemaDdl) USING PARQUET
         |CLUSTERED BY (`term`) SORTED BY (`term`) INTO $buckets BUCKETS
         |LOCATION '${path.replace("'", "''")}'""".stripMargin): Unit
  }

  /** Backtick-quote a (possibly db-qualified) identifier for
    * interpolation into generated DDL.
    */
  private[graft] def quoteIdent(name: String): String =
    name.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  /** Reference-compatible final JSON envelope
    * (`reducer/src/processor.py:98-110`): `{"metadata": {"creation_time",
    * "num_terms", "timestamp"}, "index": {term: [{doc_id, url}...]}}`.
    * Term order is insertion order in the reference and therefore
    * comparison-insensitive (SURVEY §4.3.5); posting lists are
    * doc_id-sorted. Driver-materialized by design — interop sink only.
    */
  def writeJsonEnvelope(index: DataFrame, outFile: String): Unit = {
    val agged = index
      .agg(
        to_json(map_from_entries(collect_list(struct(col("term"), col("postings")))))
          .as("index_json"),
        count(lit(1)).as("num_terms"))
      .head()
    val (mapJson, numTerms) = (agged.getString(0), agged.getLong(1))
    val now = java.time.Instant.now()
    val envelope =
      s"""{"metadata": {"creation_time": "$now", "num_terms": $numTerms, "timestamp": ${now.getEpochSecond}}, "index": $mapJson}"""
    val p = Paths.get(outFile)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, envelope)
  }

  /** Hive-layout partitioned parquet sink: one directory per value of
    * `partitionCol` (e.g. `lang=en/`), rows sorted within partitions by
    * `sortCol` for run-length/delta-friendly encoding. A downstream
    * filter on the partition column prunes whole directories at planning
    * time (`PartitionFilters` in the scan, zero data files read for
    * non-matching values) — the complement of the term-BUCKETED index:
    * bucket on high-cardinality point-lookup keys, partition on
    * low-cardinality scan-slicing keys. Never partition on a
    * high-cardinality column (one directory per value is the small-files
    * catastrophe at scale).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       sortCol: String): Unit =
    df.repartition(col(partitionCol))
      .sortWithinPartitions(col(partitionCol), col(sortCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)

  /** TRAINING-SHARD EXPORT — the pipeline's last mile (ingest → curate
    * → pack → export): the corpus written Hive-partitioned by SHARD,
    * where shard = first_chunk DIV `chunksPerShard` over the
    * `Packing.packedOffsets` chunk assignment. Shard count is
    * total_tokens / (budget · chunksPerShard) — low-cardinality by
    * construction, the partition-column rule `writePartitioned`
    * documents. Rows sort by doc_id within shards so a loader streams
    * each shard in global offset order. A doc straddling a shard
    * boundary lands in its FIRST shard (docs are atomic; the loader
    * reads one doc tail past the boundary — the standard packed-corpus
    * convention); zero-token docs quarantine in shard -1.
    *
    * Returns the shard MANIFEST (shard, n_docs, n_tokens, first_chunk,
    * last_chunk) computed from a READ-BACK of the written files (the
    * manifest vouches for what landed, not what was planned), and
    * persists it beside the data under `_graft_manifest/` (underscore-
    * prefixed — invisible to downstream parquet scans of the shards).
    */
  def writeTrainingShards(docs: DataFrame, path: String, budget: Long = 2048L,
                          chunksPerShard: Long = 16L): DataFrame = {
    require(chunksPerShard > 0)
    val off = graft.operators.Packing.packedOffsets(
      docs.select(col("doc_id"),
        size(graft.functions.Text.tokenize(col("text"))).as("n_tok")),
      budget)
    val withShard = docs.join(off, "doc_id")
      .withColumn("shard",
        coalesce(expr(s"first_chunk DIV $chunksPerShard"), lit(-1L)))
    writePartitioned(withShard, path, "shard", "doc_id")
    val manifest = docs.sparkSession.read.parquet(path)
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("first_chunk")).as("first_chunk"),
        max(col("last_chunk")).as("last_chunk"))
    persistManifest(manifest, path)
  }

  /** TRAINING-SHARD EXPORT, md5-rank edition — `writeTrainingShards`'
    * sibling for the loader that wants DECORRELATED shards: documents
    * are ranked by the engine-portable md5 permutation
    * (`Packing.shuffledOffsets`), the shuffled token stream is cut at
    * `budget`-token boundaries, and each document lands WHOLE in the
    * shard its start offset falls in — shard token mass is bounded by
    * budget + (longest doc − 1), deterministic for a given corpus.
    * Zero-token documents are excluded (they contribute no training
    * signal and would make "which shard" meaningless); the round-trip
    * contract is over the n_tok > 0 corpus.
    *
    * The MANIFEST is computed from a READ-BACK of the written files
    * (vouches for what landed, not what was planned) and persisted
    * under `_graft_manifest/`: (shard_id, n_docs, n_tokens, digest),
    * where digest is the order-independent 61-bit checksum
    * sum(md5prefix48(doc_id:n_tok)) mod (2^61 − 1) — exact DECIMAL
    * accumulation, md5-derived so any engine reproduces it (the
    * q_export_manifest oracle recomputes the whole manifest from the
    * raw corpus in SQL). Returns the manifest relation.
    */
  def writeShards(docs: DataFrame, path: String, budget: Long = 2048L): DataFrame = {
    require(budget > 0, s"shard budget must be positive, got $budget")
    val toks = docs
      .withColumn("n_tok",
        size(graft.functions.Text.tokenize(col("text"))).cast("long"))
      .filter(col("n_tok") > 0)
    val off = graft.operators.Packing.shuffledOffsets(
      toks.select(col("doc_id"), col("n_tok")))
    val withShard = toks.join(
      off.select(col("doc_id"), col("start_tok"),
        floor(col("start_tok") / budget).cast("long").as("shard_id")),
      "doc_id")
    // rows sort by start_tok within shards so a loader streams each
    // shard in global (shuffled) offset order
    writePartitioned(withShard, path, "shard_id", "start_tok")
    val fp = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        col("n_tok").cast("string"))), 1, 12), 16, 10)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val manifest = docs.sparkSession.read.parquet(path)
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        (sum(fp) % lit(2305843009213693951L)).cast("long").as("digest"))
    persistManifest(manifest, path)
  }

  /** Where a shard export at `path` keeps its manifest: an
    * underscore-prefixed directory, which parquet scans of `path` skip.
    */
  private def manifestDir(path: String): String = s"$path/_graft_manifest"

  /** The manifest's part files, the path to read it by: for a read whose
    * root is underscore-prefixed, Spark's `DataSource` logs "All paths
    * were ignored", although it reads the files.
    */
  def manifestFiles(path: String): String = s"${manifestDir(path)}/*.parquet"

  /** Writes `manifest` as one file under `path`'s manifest directory and
    * returns it read back from there.
    */
  private def persistManifest(manifest: DataFrame, path: String): DataFrame = {
    manifest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(manifestDir(path))
    manifest.sparkSession.read.parquet(manifestFiles(path))
  }

  /** K1 raw mapper envelope (reference `mapper/src/processor.py:58-68`):
    * `{"metadata": {"timestamp", "mapper_id", "num_terms",
    * "creation_time"}, "terms": [{"term", "doc_id", "url"}, ...]}`.
    * Driver-materialized like the reference's per-mapper file —
    * interop/debug parity only; the engine's real K1 is Spark's shuffle
    * files (SURVEY §2.1).
    */
  def writeMapperEnvelope(postings: DataFrame, mapperId: Int, outFile: String): Unit = {
    val agged = postings
      .agg(
        to_json(collect_list(struct(col("term"), col("doc_id"), col("url"))))
          .as("terms_json"),
        count(lit(1)).as("num_terms"))
      .head()
    val now = java.time.Instant.now()
    val envelope =
      s"""{"metadata": {"timestamp": ${now.getEpochSecond}, "mapper_id": $mapperId, "num_terms": ${agged.getLong(1)}, "creation_time": "$now"}, "terms": ${agged.getString(0)}}"""
    writeFile(outFile, envelope)
  }

  /** K1 shuffled mapper envelope (`mapper/src/processor.py:115-123`):
    * metadata gains `{"shuffled": true, "shuffle_time", "unique_terms"}`
    * and terms group into `[{"term", "occurrences": [{"doc_id", "url"},
    * ...]}, ...]`, term-sorted like the reference's `sorted(...)` pass
    * (occurrences additionally doc_id-sorted here — the engine's
    * canonical posting order).
    */
  def writeShuffledEnvelope(postings: DataFrame, mapperId: Int, outFile: String): Unit = {
    val agged = postings
      .groupBy("term")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("url")))).as("occurrences"))
      .agg(
        to_json(sort_array(collect_list(struct(col("term"), col("occurrences")))))
          .as("terms_json"),
        count(lit(1)).as("unique_terms"),
        // sum over zero rows is null, not 0 — an empty posting relation
        // must produce a valid empty envelope, not an NPE
        coalesce(sum(size(col("occurrences"))), lit(0L)).as("num_terms"))
      .head()
    val now = java.time.Instant.now()
    val envelope =
      s"""{"metadata": {"timestamp": ${now.getEpochSecond}, "mapper_id": $mapperId, "num_terms": ${agged.getLong(2)}, "creation_time": "$now", "shuffled": true, "shuffle_time": "$now", "unique_terms": ${agged.getLong(1)}}, "terms": ${agged.getString(0)}}"""
    writeFile(outFile, envelope)
  }

  /** Read a raw K1 envelope back to the posting relation (term, doc_id,
    * url) — the engine↔reference intermediate interop path.
    */
  def readMapperEnvelope(spark: SparkSession, file: String): DataFrame =
    spark.read.option("wholetext", true).text(file)
      .select(from_json(col("value"),
        lit("terms ARRAY<STRUCT<term: STRING, doc_id: BIGINT, url: STRING>>")).as("e"))
      .select(explode(col("e.terms")).as("p"))
      .select(col("p.term").as("term"), col("p.doc_id").as("doc_id"), col("p.url").as("url"))

  /** Read a shuffled K1 envelope back to the posting relation. */
  def readShuffledEnvelope(spark: SparkSession, file: String): DataFrame =
    spark.read.option("wholetext", true).text(file)
      .select(from_json(col("value"),
        lit("terms ARRAY<STRUCT<term: STRING, occurrences: ARRAY<STRUCT<doc_id: BIGINT, url: STRING>>>>")).as("e"))
      .select(explode(col("e.terms")).as("g"))
      .select(col("g.term").as("term"), explode(col("g.occurrences")).as("o"))
      .select(col("term"), col("o.doc_id").as("doc_id"), col("o.url").as("url"))

  private def writeFile(outFile: String, content: String): Unit = {
    val p = Paths.get(outFile)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  /** Read a reference-format index envelope back into the engine's
    * relational index shape (`term, postings ARRAY<STRUCT<doc_id,url>>`) —
    * the migration path for existing reference artifacts. Term order in
    * the file is insertion order and is irrelevant here (SURVEY §4.3.5).
    */
  def readJsonEnvelope(spark: SparkSession, file: String): DataFrame =
    spark.read.option("wholetext", true).text(file)
      .select(from_json(col("value"),
        lit("index MAP<STRING, ARRAY<STRUCT<doc_id: BIGINT, url: STRING>>>")).as("e"))
      .select(explode(col("e.index")).as(Seq("term", "postings")))
}

/** Session-scoped registry of persisted, term-bucketed posting tables —
  * one per corpus directory. First access builds both posting tables,
  * together with the four term-statistics relations, as one concurrent
  * job set (`IndexFamily`); every subsequent point/boolean query against
  * the same corpus reads only the files of its terms' buckets, with no
  * Exchange before the filter. The scan is flat unless an operator above
  * it uses the term partitioning (`PrunedBucketScan`), so it runs one
  * task per selected file split, not one per bucket.
  */
object IndexStore {

  /** The posting relation for `dir`, served from the persisted bucketed
    * table (its family built on first use).
    */
  def postings(spark: SparkSession, dir: String): DataFrame = {
    IndexFamily.ensure(spark, dir)
    servedPostings(spark, dir)
  }

  /** The POSITIONAL posting relation (term, doc_id, pos) for `dir`,
    * persisted in the same term-bucketed layout — phrase queries prune
    * to their terms' buckets instead of re-tokenizing the corpus.
    */
  def positionalPostings(spark: SparkSession, dir: String): DataFrame = {
    IndexFamily.ensure(spark, dir)
    servedPositional(spark, dir)
  }

  private[sources] def servedPostings(spark: SparkSession, dir: String): DataFrame =
    SessionStores.bucketed(spark, "graft_index", "postings", dir, "term") {
      graft.operators.InvertedIndex.postings(Corpus.documents(spark, dir))
    }

  private[sources] def servedPositional(spark: SparkSession, dir: String): DataFrame =
    SessionStores.bucketed(spark, "graft_index", "positional", dir, "term") {
      graft.operators.InvertedIndex.positionalPostings(Corpus.documents(spark, dir))
    }
}

/** Session-scoped CO-LOCATED bucketed copies of lineitem and orders —
  * both bucketed (and sorted) on the order key into the SAME bucket
  * count, so their join needs NO exchange on either side at ANY size:
  * bucket i of one table joins bucket i of the other, a property that
  * survives a 1000-executor 100 TB layout where a shuffle join would
  * move both tables. The large×large complement of broadcasting small
  * dims.
  */
object ColocatedStore {

  /** (lineitem bucketed on l_orderkey, orders bucketed on o_orderkey) —
    * equal bucket counts, ready for the exchange-free join.
    */
  def orderJoinTables(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def served(base: String, key: String): DataFrame =
      SessionStores.bucketed(spark, "graft_coloc", base, dir, key)(Tables.tbl(spark, dir, base))
    (served("lineitem", "l_orderkey"), served("orders", "o_orderkey"))
  }
}

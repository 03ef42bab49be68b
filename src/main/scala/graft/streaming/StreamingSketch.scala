package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.Text
import graft.operators.Sketches

/** Incremental Misra-Gries heavy-hitter maintenance over a DOCUMENT
  * STREAM — the streaming twin of the batch `Sketches.heavyHitters`
  * pass, and the monitoring shape a large ingest pipeline actually
  * runs: a fixed-size summary of the hottest terms, kept current per
  * micro-batch, readable at any time without touching the corpus.
  *
  * MERGEABILITY IS THE WHOLE DESIGN (Agarwal et al., PODS'12): per
  * micro-batch only the BATCH's terms are folded into a partial
  * summary (map-side, O(capacity) state per partition), and that
  * partial is APPENDED to the store as `part/batch=<id>.json` — the
  * accumulated state is the merge of all parts, computed at read time
  * (driver-side; #batches × O(capacity) — a compaction can collapse
  * parts at any time because merge is associative).
  *
  * REPLAY CONTRACT: a replayed batch OVERWRITES its own part file
  * (per-batch content keyed by batchId), so at-least-once delivery can
  * never double-count — the same idempotency-by-key discipline as the
  * pair/posting stores, without their latest-wins collapse (the key IS
  * the batch). The `runOnce` marker additionally short-circuits clean
  * replays. The partial file is written tmp-then-rename
  * (`StoreMaintenance.writeText`) so a reader never observes a torn
  * part.
  *
  * Parts and markers are keyed by the bare batchId, NOT scoped by
  * checkpoint lineage (the parts of every family share one directory
  * per store). A sink restarted over an existing store with a FRESH
  * checkpoint would restart batchIds at 0 and have its first batches
  * skipped as "already committed", so the first sink over a store
  * records its commit scope in `_graft_lineage`, and a sink under any
  * other scope is refused.
  *
  * The MG guarantees survive accumulation: each part obeys the bound
  * for its batch, and `merge` preserves completeness and the
  * N/(capacity+1) undercount bound for the UNION stream
  * (SketchProperties proves this over arbitrary splits) — so the
  * accumulated summary serves the same `heavyHittersChecked`-style
  * projection as batch, at any point in the stream.
  */
object StreamingSketch {

  val DefaultCapacity = 48

  private def partsDir(store: String) = s"$store/mg_parts"
  private def partPath(store: String, batchId: Long) =
    s"${partsDir(store)}/batch_$batchId.json"

  // terms are [a-z]+ by tokenizer contract, but escape defensively via
  // the shared escaper so the part-file JSON can never diverge from the
  // artifact writers' rules
  private def esc(s: String): String = graft.util.JsonText.esc(s)

  private def stateJson(st: Sketches.MGState): String = {
    val counters = st.counters.toSeq.sortBy(_._1)
      .map { case (t, w) => s"${esc(t)}:$w" }.mkString("{", ",", "}")
    s"""{"n":${st.n},"counters":$counters}"""
  }

  /** Minimal parser for the exact shape `stateJson` writes (no JSON lib
    * on the classpath by environment contract). Term keys are tokenizer
    * output ([a-z]+), so the quoted segments contain no escapes in
    * practice; the parser still unescapes the sequences `esc` emits.
    */
  private[graft] def parseState(json: String): Sketches.MGState = {
    val n = """^\{"n":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(0L)
    // counters live strictly inside the object following `"counters":` —
    // parse only that span, so a TERM literally named "n" can't be
    // confused with the count field
    val span = json.indexOf("\"counters\":{") match {
      case -1 => ""
      case i => json.substring(i + "\"counters\":{".length, json.lastIndexOf('}'))
    }
    val pair = """"((?:[^"\\]|\\.)*)":(\d+)""".r
    val counters = pair.findAllMatchIn(span).map { m =>
      graft.util.JsonText.unesc(m.group(1)) -> m.group(2).toLong
    }.toMap
    Sketches.MGState(counters, n)
  }

  /** Fold one micro-batch of documents into its own partial summary and
    * write it (idempotent by batchId). @return false on a clean replay
    * of a committed batch (skipped).
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                  storePath: String,
                                  capacity: Int = DefaultCapacity,
                                  autoCompactAt: Int = AutoCompactParts): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val appended = StoreMaintenance.runOnce(conf, storePath, "mgsketch", batchId) {
      val partial = batch.select(explode(Text.terms(col("text"))).as("term"))
        .as[String]
        .select(new Sketches.MisraGriesAgg(capacity).toColumn.name("s"))
        .head()
      StoreMaintenance.writeText(conf, partPath(storePath, batchId), stateJson(partial))
    }
    // outside the commit marker: compaction is state-preserving, so a
    // crash mid-compact after the marker landed loses nothing a replay
    // would need
    if (appended)
      autoCompact(conf, partsDir(storePath), ".json", autoCompactAt)(
        mgMergeContent(capacity))
    appended
  }

  /** The accumulated summary: merge of every batch part (associative —
    * listing order does not matter). Driver work is O(#live-parts ×
    * capacity), and #live-parts is bounded by `AutoCompactParts` under
    * any ingest (the append path self-compacts past the threshold); an
    * empty/absent store reads as the zero state.
    */
  def state(spark: SparkSession, storePath: String,
            capacity: Int = DefaultCapacity): Sketches.MGState = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(partsDir(storePath))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) new Sketches.MisraGriesAgg(capacity).zero
    else mergeMgFiles(conf, livePartFiles(fs, dir, ".json"), capacity)
  }

  private def mergeMgFiles(conf: org.apache.hadoop.conf.Configuration,
                           files: Seq[org.apache.hadoop.fs.Path],
                           capacity: Int): Sketches.MGState = {
    val agg = new Sketches.MisraGriesAgg(capacity)
    files.map(p => parseState(StoreMaintenance.readText(conf, p.toString).get))
      .foldLeft(agg.zero)(agg.merge)
  }

  /** The accumulated summary as a relation (term, mg_weight) — the
    * serving read, O(capacity) rows.
    */
  def heavyHitters(spark: SparkSession, storePath: String,
                   capacity: Int = DefaultCapacity): DataFrame = {
    import spark.implicits._
    val st = state(spark, storePath, capacity)
    st.counters.toSeq.toDF("term", "mg_weight")
  }

  // ---------------------------------------------------------------------
  // Count-Min twin: the SAME part-file discipline for the CMS counter
  // array. CMS is a LINEAR sketch — the element-wise sum of per-batch
  // partials is EXACTLY the sketch of the union stream (not merely
  // bound-preserving like MG), so the accumulated state is
  // indistinguishable from a batch pass.
  // ---------------------------------------------------------------------

  val DefaultDepth = 4
  val DefaultWidth = 1024

  private def cmsPartsDir(store: String) = s"$store/cms_parts"
  private def cmsPartPath(store: String, batchId: Long) =
    s"${cmsPartsDir(store)}/batch_$batchId.txt"

  /** Fold one micro-batch into its own CMS partial (comma-separated
    * longs, tmp-then-rename, idempotent by batchId). @return false on a
    * clean replay of a committed batch.
    */
  private[graft] def processBatchCms(batch: DataFrame, batchId: Long,
                                     storePath: String,
                                     depth: Int = DefaultDepth,
                                     width: Int = DefaultWidth,
                                     autoCompactAt: Int = AutoCompactParts): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val appended = StoreMaintenance.runOnce(conf, storePath, "cmssketch", batchId) {
      val partial = batch.select(explode(Text.terms(col("text"))).as("term"))
        .as[String]
        .select(new Sketches.CountMinAgg(depth, width).toColumn.name("s"))
        .head()
      StoreMaintenance.writeText(conf, cmsPartPath(storePath, batchId), partial.mkString(","))
    }
    if (appended)
      autoCompact(conf, cmsPartsDir(storePath), ".txt", autoCompactAt)(
        cmsMergeContent(depth, width))
    appended
  }

  /** The accumulated CMS counter array: element-wise sum of every batch
    * part (≡ the sketch of the union stream — linearity). Absent store
    * reads as the zero array.
    */
  def cmsState(spark: SparkSession, storePath: String,
               depth: Int = DefaultDepth,
               width: Int = DefaultWidth): Array[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(cmsPartsDir(storePath))
    val fs = dir.getFileSystem(conf)
    val zero = new Array[Long](depth * width + 1)
    if (!fs.exists(dir)) zero
    else mergeCmsFiles(conf, livePartFiles(fs, dir, ".txt"), depth, width)
  }

  private def mergeCmsFiles(conf: org.apache.hadoop.conf.Configuration,
                            files: Seq[org.apache.hadoop.fs.Path],
                            depth: Int, width: Int): Array[Long] =
    files.foldLeft(new Array[Long](depth * width + 1)) { (acc, p) =>
      val part = StoreMaintenance.readText(conf, p.toString).get.split(',').map(_.toLong)
      require(part.length == acc.length,
        s"CMS part ${p.getName} has ${part.length} counters, " +
          s"store expects ${acc.length} — depth/width changed mid-store")
      var i = 0
      while (i < acc.length) { acc(i) += part(i); i += 1 }
      acc
    }

  // ---------------------------------------------------------------------
  // Greenwald-Khanna twin: per-batch QuantileSummaries partials over the
  // per-doc token counts, persisted as (value, g, delta) tuple lines and
  // merged at read — GK merge preserves the rank-error bound for the
  // union stream (the same contract percentile_approx's distributed
  // partial merge relies on).
  // ---------------------------------------------------------------------

  val DefaultAccuracy = 10000

  private def gkPartsDir(store: String) = s"$store/gk_parts"
  private def gkPartPath(store: String, batchId: Long) =
    s"${gkPartsDir(store)}/batch_$batchId.txt"

  import org.apache.spark.sql.catalyst.util.QuantileSummaries

  private def gkSerialize(qs: QuantileSummaries): String = {
    val header = s"${qs.count}"
    val rows = qs.sampled.map(s => s"${java.lang.Double.doubleToLongBits(s.value)},${s.g},${s.delta}")
    (header +: rows).mkString("\n")
  }

  private[graft] def gkParse(text: String, relativeError: Double): QuantileSummaries = {
    val lines = text.split('\n').filter(_.nonEmpty)
    val count = lines.head.toLong
    val sampled = lines.tail.map { l =>
      val Array(v, g, d) = l.split(',')
      new QuantileSummaries.Stats(
        java.lang.Double.longBitsToDouble(v.toLong), g.toLong, d.toLong)
    }
    new QuantileSummaries(QuantileSummaries.defaultCompressThreshold,
      relativeError, sampled, count, true)
  }

  /** Fold one micro-batch's per-doc token counts into a GK partial
    * (tmp-then-rename, idempotent by batchId). @return false on replay.
    */
  private[graft] def processBatchGk(batch: DataFrame, batchId: Long,
                                    storePath: String,
                                    accuracy: Int = DefaultAccuracy,
                                    autoCompactAt: Int = AutoCompactParts): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val appended = StoreMaintenance.runOnce(conf, storePath, "gksketch", batchId) {
      val partial = batch
        .select(size(Text.tokenize(col("text"))).as("n_tokens"))
        .as[Int]
        .select(new Sketches.GKAgg(1.0 / accuracy).toColumn.name("s"))
        .head()
      StoreMaintenance.writeText(conf, gkPartPath(storePath, batchId), gkSerialize(partial))
    }
    if (appended)
      autoCompact(conf, gkPartsDir(storePath), ".txt", autoCompactAt)(
        gkMergeContent(accuracy))
    appended
  }

  /** The accumulated GK summary: merge of every batch part. Absent store
    * reads as the empty summary (count 0).
    */
  def gkState(spark: SparkSession, storePath: String,
              accuracy: Int = DefaultAccuracy): QuantileSummaries = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(gkPartsDir(storePath))
    val fs = dir.getFileSystem(conf)
    val relErr = 1.0 / accuracy
    if (!fs.exists(dir))
      new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, relErr).compress()
    else mergeGkFiles(conf, livePartFiles(fs, dir, ".txt"), accuracy)
  }

  private def mergeGkFiles(conf: org.apache.hadoop.conf.Configuration,
                           files: Seq[org.apache.hadoop.fs.Path],
                           accuracy: Int): QuantileSummaries = {
    val relErr = 1.0 / accuracy
    val zero = new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold, relErr).compress()
    files.map(p => gkParse(StoreMaintenance.readText(conf, p.toString).get, relErr))
      .foldLeft(zero)((a, b) => a.merge(b))
  }

  // ---------------------------------------------------------------------
  // Bloom twin: the decontamination eval-set filter, maintained
  // incrementally — the shape a pipeline with a GROWING benchmark suite
  // runs (eval sets arrive in drops; re-building the filter from the
  // full suite per drop re-reads every eval corpus). Bloom is a
  // PURE-OR sketch: the bitwise OR of per-batch filters with identical
  // geometry IS the filter of the union stream, BIT-EXACT (not merely
  // bound-preserving — SketchProperties proves serialized equality over
  // arbitrary splits), so the accumulated filter gives the identical
  // no-false-negative guarantee a batch build would. Geometry is fixed
  // per store by (BloomItemCapacity, BloomFpp) — the MG capacity rule:
  // re-tune by re-ingesting a fresh store; a geometry mismatch fails
  // loudly at merge.
  // ---------------------------------------------------------------------

  /** Sizes the fixed per-store filter geometry: ~19.2 bits/item at
    * 1e-4 → ~157 KB per part. An eval suite past the capacity degrades
    * fpp smoothly (never correctness — no false negatives regardless).
    */
  val BloomItemCapacity: Long = 1L << 16
  val BloomFpp: Double = 1e-4

  private def bloomPartsDir(store: String) = s"$store/bloom_parts"
  private def bloomPartPath(store: String, batchId: Long) =
    s"${bloomPartsDir(store)}/batch_$batchId.b64"

  private def emptyBloom(): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.create(BloomItemCapacity, BloomFpp)

  private def bloomB64(bf: org.apache.spark.util.sketch.BloomFilter): String =
    java.util.Base64.getEncoder.encodeToString(graft.plans.BloomContains.serialize(bf))

  private[graft] def bloomParse(text: String): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(text.trim)))

  /** Fold one micro-batch of eval-set SHINGLES (a string column `s`)
    * into its own Bloom partial (base64 of the public serialization,
    * tmp-then-rename, idempotent by batchId). The partial builds with
    * Spark's distributed sketch aggregation — per-partition filters
    * OR-merged, only the bit array reaching the driver. @return false
    * on a clean replay of a committed batch.
    */
  private[graft] def processBatchBloom(shingles: DataFrame, batchId: Long,
                                       storePath: String,
                                       autoCompactAt: Int = AutoCompactParts): Boolean = {
    val conf = shingles.sparkSession.sparkContext.hadoopConfiguration
    val appended = StoreMaintenance.runOnce(conf, storePath, "bloomsketch", batchId) {
      val partial = shingles.stat.bloomFilter("s", BloomItemCapacity, BloomFpp)
      StoreMaintenance.writeText(conf, bloomPartPath(storePath, batchId), bloomB64(partial))
    }
    if (appended)
      autoCompact(conf, bloomPartsDir(storePath), ".b64", autoCompactAt)(
        bloomMergeContent)
    appended
  }

  /** The accumulated filter, serialized — the form `bloom_contains`
    * probes and `Dedup.decontaminateBloomWith` serves. Absent/empty
    * store reads as the empty filter (matches nothing).
    */
  def bloomState(spark: SparkSession, storePath: String): Array[Byte] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(bloomPartsDir(storePath))
    val fs = dir.getFileSystem(conf)
    val bf =
      if (!fs.exists(dir)) emptyBloom()
      else mergeBloomFiles(conf, livePartFiles(fs, dir, ".b64"))
    graft.plans.BloomContains.serialize(bf)
  }

  private def mergeBloomFiles(conf: org.apache.hadoop.conf.Configuration,
                              files: Seq[org.apache.hadoop.fs.Path])
      : org.apache.spark.util.sketch.BloomFilter =
    files.foldLeft(emptyBloom()) { (acc, p) =>
      acc.mergeInPlace(bloomParse(StoreMaintenance.readText(conf, p.toString).get))
    }

  private def bloomMergeContent(
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.Path]): String =
    bloomB64(mergeBloomFiles(conf, files))

  // ---- HLL family: per-source vocabulary-cardinality registers ----
  //
  // Per micro-batch, one DataSketches HLL sketch per source
  // (`hll_sketch_agg`, lgK 12 — Spark's default) lands as a part; the
  // accumulated per-source registers are the union of the parts, and
  // UNION OF SKETCHES = SKETCH OF THE UNION (registers are per-slot
  // maxima — commutative, idempotent, order-independent), so the
  // streamed estimate serves the same deterministic bound projection as
  // the batch `vocabularyBySourceChecked`. Part payload is
  // O(#sources × 2^lgK) regardless of vocabulary size.

  private def hllPartsDir(store: String) = s"$store/hll_parts"
  private def hllPartPath(store: String, batchId: Long) =
    s"${hllPartsDir(store)}/batch_$batchId.json"

  val HllLgK = 12

  private def hllJson(m: Seq[(String, Array[Byte])]): String =
    m.sortBy(_._1).map { case (src, b) =>
      s"${esc(src)}: ${esc(java.util.Base64.getEncoder.encodeToString(b))}"
    }.mkString("{", ",", "}")

  /** Source names are `esc`-escaped on write; base64 payloads carry no
    * quotes — the quoted-pair scan below is exact for this format.
    */
  private[graft] def hllParse(json: String): Map[String, Array[Byte]] =
    """"((?:[^"\\]|\\.)*)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(json).map { m =>
      val key = m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
      key -> java.util.Base64.getDecoder.decode(m.group(2))
    }.toMap

  /** Fold one micro-batch of (source, term) rows into per-source HLL
    * partials. Same idempotency contract as every family: `runOnce`
    * marker + per-batch part keyed by batchId, tmp-then-rename.
    */
  private[graft] def processBatchHll(terms: DataFrame, batchId: Long,
                                     storePath: String,
                                     autoCompactAt: Int = AutoCompactParts): Boolean = {
    val conf = terms.sparkSession.sparkContext.hadoopConfiguration
    val appended = StoreMaintenance.runOnce(conf, storePath, "hllsketch", batchId) {
      val rows = terms
        .groupBy("source")
        .agg(hll_sketch_agg(col("term"), lit(HllLgK)).as("sk"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toSeq
      StoreMaintenance.writeText(conf, hllPartPath(storePath, batchId), hllJson(rows))
    }
    if (appended)
      autoCompact(conf, hllPartsDir(storePath), ".json", autoCompactAt)(
        hllMergeContent)
    appended
  }

  private def mergeHllMaps(parts: Seq[Map[String, Array[Byte]]])
      : Map[String, Array[Byte]] = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    parts.flatMap(_.toSeq).groupBy(_._1).map { case (src, bs) =>
      val u = new Union(HllLgK)
      bs.foreach { case (_, b) => u.update(HllSketch.heapify(b)) }
      src -> u.getResult.toCompactByteArray
    }
  }

  private def mergeHllFiles(conf: org.apache.hadoop.conf.Configuration,
                            files: Seq[org.apache.hadoop.fs.Path])
      : Map[String, Array[Byte]] =
    mergeHllMaps(files.map(p => hllParse(StoreMaintenance.readText(conf, p.toString).get)))

  private def hllMergeContent(
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.Path]): String =
    hllJson(mergeHllFiles(conf, files).toSeq)

  /** The accumulated per-source estimates (source, approx_vocab) as a
    * DataFrame — union of every live part's registers, estimated with
    * the same Spark function family the batch pass uses. Absent store
    * reads as empty.
    */
  def hllVocabEstimates(spark: SparkSession, storePath: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(hllPartsDir(storePath))
    val fs = dir.getFileSystem(conf)
    val merged: Seq[(String, Array[Byte])] =
      if (!fs.exists(dir)) Seq.empty
      else mergeHllFiles(conf, livePartFiles(fs, dir, ".json")).toSeq
    import spark.implicits._
    merged.toDF("source", "sk")
      .groupBy("source")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_vocab"))
  }

  /** The LIVE part files of a family dir, under the compaction contract:
    * `compacted_upto_<maxBatchId>` supersedes every `batch_<id>` part
    * with id ≤ maxBatchId (those are either merged into it or crashed-
    * delete leftovers whose content it already carries) and every OLDER
    * compacted file; `batch_<id>` parts with id > maxBatchId are new
    * ingest since the compact and merge on top. With no compacted file,
    * all batch parts are live.
    */
  private def livePartFiles(fs: org.apache.hadoop.fs.FileSystem,
                            dir: org.apache.hadoop.fs.Path,
                            ext: String): Seq[org.apache.hadoop.fs.Path] = {
    val comp = ("""compacted_upto_(\d+)""" + java.util.regex.Pattern.quote(ext)).r
    val batch = ("""batch_(\d+)""" + java.util.regex.Pattern.quote(ext)).r
    val all = fs.listStatus(dir).toSeq.map(_.getPath)
    val comps = all.flatMap(p => p.getName match {
      case comp(id) => Some(id.toLong -> p)
      case _ => None
    })
    val batches = all.flatMap(p => p.getName match {
      case batch(id) => Some(id.toLong -> p)
      case _ => None
    })
    comps.sortBy(_._1).lastOption match {
      case None => batches.sortBy(_._1).map(_._2)
      case Some((upto, cp)) =>
        cp +: batches.filter(_._1 > upto).sortBy(_._1).map(_._2)
    }
  }

  /** Collapse every accumulated part (MG, CMS, GK, Bloom) into ONE part each —
    * an all-day stream otherwise accumulates a file per micro-batch and
    * the read-side merge grows linearly. Safe under replay: the runOnce
    * COMMIT MARKERS outlive the parts, so a replayed batch is skipped
    * before it could re-append content the compacted part already
    * carries; associativity makes the merged part ≡ the parts it
    * replaces. Crash-safe per family: the merge is written
    * tmp-then-rename as `compacted_upto_<maxBatchId>` BEFORE any
    * original is deleted, and readers apply the supersede rule
    * (`livePartFiles`), so a crash mid-delete leaves only ignorable
    * garbage — the delete pass is pure GC. Post-compact ingest keeps
    * appending `batch_<id>` parts with LARGER ids, which merge on top.
    *
    * Caller contract (same as every store compact in this engine):
    * pause the ingest query over this store first.
    */
  def compactParts(spark: SparkSession, storePath: String,
                   capacity: Int = DefaultCapacity,
                   depth: Int = DefaultDepth, width: Int = DefaultWidth,
                   accuracy: Int = DefaultAccuracy): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    collapse(conf, partsDir(storePath), ".json")(mgMergeContent(capacity))
    collapse(conf, cmsPartsDir(storePath), ".txt")(cmsMergeContent(depth, width))
    collapse(conf, gkPartsDir(storePath), ".txt")(gkMergeContent(accuracy))
    collapse(conf, bloomPartsDir(storePath), ".b64")(bloomMergeContent)
    collapse(conf, hllPartsDir(storePath), ".json")(hllMergeContent)
  }

  // per-family merged-content closures — shared by the manual compactParts
  // and the per-append auto-compaction (each append path compacts only
  // ITS family: the families have independent writers in principle)
  private def mgMergeContent(capacity: Int)(
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.Path]): String =
    stateJson(mergeMgFiles(conf, files, capacity))
  private def cmsMergeContent(depth: Int, width: Int)(
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.Path]): String =
    mergeCmsFiles(conf, files, depth, width).mkString(",")
  private def gkMergeContent(accuracy: Int)(
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.Path]): String =
    gkSerialize(mergeGkFiles(conf, files, accuracy))

  /** One family-dir compaction. The merged content is computed from the
    * SAME file list that determined `upto` — re-listing inside the merge
    * would let a part appended between the two listings fold into the
    * compacted file while also surviving as a live part (double-counted
    * forever).
    */
  private def collapse(conf: org.apache.hadoop.conf.Configuration,
                       dirPath: String, ext: String)(
      mergeFiles: (org.apache.hadoop.conf.Configuration,
                   Seq[org.apache.hadoop.fs.Path]) => String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(dirPath)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) {
      val batch = ("""batch_(\d+)""" + java.util.regex.Pattern.quote(ext)).r
      val live = livePartFiles(fs, dir, ext)
      val liveBatchIds = live.flatMap(p => p.getName match {
        case batch(id) => Some(id.toLong)
        case _ => None
      })
      if (liveBatchIds.nonEmpty) {
        val upto = liveBatchIds.max
        val content = mergeFiles(conf, live) // exactly the listed view
        val dst = new org.apache.hadoop.fs.Path(
          s"$dirPath/compacted_upto_$upto$ext")
        StoreMaintenance.writeText(conf, dst.toString, content)
        // GC strictly the superseded files: batch parts with id ≤ upto
        // and any OLDER compacted file — a part a racing ingest might
        // have appended (contract violation) is left intact AND is not
        // in the merged content (it was never in `live`)
        val comp = ("""compacted_upto_(\d+)""" + java.util.regex.Pattern.quote(ext)).r
        fs.listStatus(dir).toSeq.map(_.getPath).filter(_ != dst)
          .filter(p => p.getName match {
            case batch(id) => id.toLong <= upto
            case comp(id) => id.toLong < upto
            case _ => false
          })
          .foreach(p => fs.delete(p, false): Unit)
      }
      // orphan-tmp GC: a crash between `writeText`'s create and rename
      // leaves `<name>.tmp`, which no reader ever matches (livePartFiles
      // keys on the bare names) — never live by construction, so any tmp
      // present here is garbage. Safe against in-flight writes because
      // every writer of this dir runs on the thread invoking this
      // compaction (the single-writer store contract).
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(ext + ".tmp"))
        .foreach(p => fs.delete(p, false): Unit)
    }
  }

  /** Live batch parts (post-supersede) past which an append triggers its
    * family's compaction — keeps any unattended ingest's read-side merge
    * O(AutoCompactParts × state) instead of O(#batches × state), without
    * anyone ever calling `compactParts`. 64 parts ≈ 64 driver file reads
    * per uncompacted read and a sub-second compaction at any capacity.
    */
  val AutoCompactParts = 64

  /** Compact `dirPath` iff its live batch-part count reached the
    * threshold. Invoked from the append path AFTER the part landed, on
    * the writer's own thread — the compaction the `compactParts` caller
    * contract requires a paused ingest for is exactly this call when the
    * ingest itself makes it, so it needs no external coordination. The
    * one extra `listStatus` per append is driver-side metadata.
    */
  private def autoCompact(conf: org.apache.hadoop.conf.Configuration,
                          dirPath: String, ext: String, threshold: Int)(
      mergeFiles: (org.apache.hadoop.conf.Configuration,
                   Seq[org.apache.hadoop.fs.Path]) => String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(dirPath)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) {
      val batch = ("""batch_(\d+)""" + java.util.regex.Pattern.quote(ext)).r
      val liveBatches = livePartFiles(fs, dir, ext).count(p =>
        batch.pattern.matcher(p.getName).matches)
      if (liveBatches >= threshold)
        collapse(conf, dirPath, ext)(mergeFiles)
    }
  }

  private def lineagePath(store: String) = s"$store/_graft_lineage"

  /** Start the incremental heavy-hitter sink over a document stream.
    * `capacity` MUST stay fixed for the lifetime of a store (summaries
    * of different capacities merge to the coarser bound — re-ingest
    * into a fresh store to re-tune). Only the checkpoint lineage that
    * first fed the store may feed it (`_graft_lineage`, see the object
    * doc): a start under another checkpoint throws
    * `IllegalStateException` instead of silently dropping its first
    * batches.
    */
  def sinkHeavyHitters(docs: DataFrame, storePath: String,
                       checkpointDir: String,
                       capacity: Int = DefaultCapacity): StreamingQuery = {
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    val scope = StoreMaintenance.commitScope(checkpointDir, conf)
    StoreMaintenance.readText(conf, lineagePath(storePath)) match {
      case None => StoreMaintenance.writeText(conf, lineagePath(storePath), scope)
      case Some(first) if first != scope =>
        throw new IllegalStateException(
          s"sinkHeavyHitters refused: $storePath is fed by another checkpoint lineage " +
            s"— restart from that checkpoint, or ingest into a fresh store ($checkpointDir " +
            "would restart batchIds at 0 and its first batches would be skipped)")
      case Some(_) => ()
    }
    StoreMaintenance.sink(docs, storePath, checkpointDir) { (batch, batchId, _) =>
      processBatch(batch, batchId, storePath, capacity)
    }
  }
}

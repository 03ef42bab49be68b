package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.Text
import graft.operators.Sketches

/** Incremental sketch maintenance over a DOCUMENT STREAM — the streaming
  * twins of the batch `Sketches` passes (Misra-Gries heavy hitters,
  * Count-Min, Greenwald-Khanna quantiles, Bloom, HLL), and the
  * monitoring shape a large ingest pipeline actually runs: a fixed-size
  * summary, kept current per micro-batch, readable at any time without
  * touching the corpus.
  *
  * MERGEABILITY IS THE WHOLE DESIGN (Agarwal et al., PODS'12): per
  * micro-batch only the BATCH's rows are folded into a partial summary
  * (map-side, fixed state per partition), and that partial is APPENDED
  * to the store as `<family>_parts/batch_<id><ext>` — the accumulated
  * state is the merge of all live parts, computed at read time
  * (driver-side; #live-parts × state — a compaction can collapse parts
  * at any time because merge is associative). Each family is one
  * `Family` declaration (directory, extension, marker namespace, codec
  * and merge); append, read and compact are written once, in `Family`.
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

  /** One sketch family's part store under `<store>/<dir>`: per-batch
    * parts `batch_<id><ext>`, compacted parts `compacted_upto_<id><ext>`,
    * commit markers under `marker`. `merge` must be associative and
    * order-insensitive; `merge(Nil)` is the state an absent store reads
    * as.
    */
  final class Family[S](dir: String, ext: String, marker: String)(
      encode: S => String, decode: String => S, merge: Seq[S] => S) {

    private val batchPart = ("""batch_(\d+)""" + java.util.regex.Pattern.quote(ext)).r
    private val compactedPart =
      ("""compacted_upto_(\d+)""" + java.util.regex.Pattern.quote(ext)).r
    private def partsDir(store: String) = new Path(s"$store/$dir")

    /** Write `partial` as batch `batchId`'s part (idempotent by batchId),
      * then compact the family if `autoCompactAt` live batch parts have
      * accumulated. @return false on a clean replay of a committed batch
      * (skipped, `partial` never evaluated).
      */
    private[streaming] def append(spark: SparkSession, store: String, batchId: Long,
                                  autoCompactAt: Int)(partial: => S): Boolean = {
      val conf = spark.sparkContext.hadoopConfiguration
      val appended = StoreMaintenance.runOnce(conf, store, marker, batchId) {
        StoreMaintenance.writeText(conf, s"$store/$dir/batch_$batchId$ext", encode(partial))
      }
      // outside the commit marker: compaction is state-preserving, so a
      // crash mid-compact after the marker landed loses nothing a replay
      // would need. It runs on the writer's own thread — the compaction
      // the `compactParts` caller contract requires a paused ingest for is
      // exactly this call when the ingest itself makes it, so it needs no
      // external coordination (and must not take the ingest guard, which
      // this very sink holds). The one extra `listStatus` per append is
      // driver-side metadata.
      if (appended) compact(conf, store, autoCompactAt)
      appended
    }

    /** The accumulated state: merge of every live part (associative —
      * listing order does not matter). #live-parts is bounded by
      * `AutoCompactParts` under any ingest (the append path
      * self-compacts past the threshold).
      */
    def state(spark: SparkSession, store: String): S = {
      val conf = spark.sparkContext.hadoopConfiguration
      val d = partsDir(store)
      val fs = d.getFileSystem(conf)
      if (!fs.exists(d)) merge(Nil) else mergeParts(conf, liveParts(fs, d))
    }

    private def mergeParts(conf: Configuration, files: Seq[Path]): S =
      merge(files.map(p => decode(StoreMaintenance.readText(conf, p.toString).get)))

    /** The LIVE part files under the compaction contract:
      * `compacted_upto_<maxBatchId>` supersedes every `batch_<id>` part
      * with id ≤ maxBatchId (those are either merged into it or crashed-
      * delete leftovers whose content it already carries) and every OLDER
      * compacted file; `batch_<id>` parts with id > maxBatchId are new
      * ingest since the compact and merge on top. With no compacted file,
      * all batch parts are live.
      */
    private def liveParts(fs: FileSystem, d: Path): Seq[Path] = {
      val all = fs.listStatus(d).toSeq.map(_.getPath)
      val comps = all.flatMap(p => p.getName match {
        case compactedPart(id) => Some(id.toLong -> p)
        case _ => None
      })
      val batches = all.flatMap(p => p.getName match {
        case batchPart(id) => Some(id.toLong -> p)
        case _ => None
      })
      comps.sortBy(_._1).lastOption match {
        case None => batches.sortBy(_._1).map(_._2)
        case Some((upto, cp)) =>
          cp +: batches.filter(_._1 > upto).sortBy(_._1).map(_._2)
      }
    }

    /** Collapse the live parts into ONE `compacted_upto_<maxBatchId>`
      * part iff at least `atLeast` live batch parts exist (0: always).
      * The merged content is computed from the SAME listing that
      * determined `upto` — re-listing inside the merge would let a part
      * appended between the two listings fold into the compacted file
      * while also surviving as a live part (double-counted forever). The
      * merge lands tmp-then-rename BEFORE any original is deleted and
      * readers apply the supersede rule (`liveParts`), so a crash
      * mid-delete leaves only ignorable garbage — the delete pass is pure
      * GC.
      */
    private[streaming] def compact(conf: Configuration, store: String, atLeast: Int): Unit = {
      val d = partsDir(store)
      val fs = d.getFileSystem(conf)
      if (fs.exists(d)) {
        val live = liveParts(fs, d)
        val liveBatchIds = live.flatMap(p => p.getName match {
          case batchPart(id) => Some(id.toLong)
          case _ => None
        })
        if (liveBatchIds.size >= atLeast) {
          if (liveBatchIds.nonEmpty) {
            val upto = liveBatchIds.max
            StoreMaintenance.writeText(conf, s"$store/$dir/compacted_upto_$upto$ext",
              encode(mergeParts(conf, live)))
            // GC strictly the superseded files: batch parts with id ≤ upto
            // and any OLDER compacted file — a part a racing ingest might
            // have appended (contract violation) is left intact AND is not
            // in the merged content (it was never in `live`)
            fs.listStatus(d).toSeq.map(_.getPath)
              .filter(p => p.getName match {
                case batchPart(id) => id.toLong <= upto
                case compactedPart(id) => id.toLong < upto
                case _ => false
              })
              .foreach(p => fs.delete(p, false): Unit)
          }
          // orphan-tmp GC: a crash between `writeText`'s create and rename
          // leaves `<name>.tmp`, which no reader ever matches (liveParts
          // keys on the bare names) — never live by construction, so any
          // tmp present here is garbage. Safe against in-flight writes
          // because every writer of this dir runs on the thread invoking
          // this compaction (the single-writer store contract).
          fs.listStatus(d).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(ext + ".tmp"))
            .foreach(p => fs.delete(p, false): Unit)
        }
      }
    }
  }

  /** Live batch parts (post-supersede) past which an append triggers its
    * family's compaction — keeps any unattended ingest's read-side merge
    * O(AutoCompactParts × state) instead of O(#batches × state), without
    * anyone ever calling `compactParts`. 64 parts ≈ 64 driver file reads
    * per uncompacted read and a sub-second compaction at any capacity.
    */
  val AutoCompactParts = 64

  // ---------------------------------------------------------------------
  // Misra-Gries heavy hitters.
  // ---------------------------------------------------------------------

  val DefaultCapacity = 48

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

  /** The MG family. `capacity` MUST stay fixed for the lifetime of a
    * store (summaries of different capacities merge to the coarser
    * bound — re-ingest into a fresh store to re-tune).
    */
  def Mg(capacity: Int = DefaultCapacity): Family[Sketches.MGState] = {
    val agg = new Sketches.MisraGriesAgg(capacity)
    new Family[Sketches.MGState]("mg_parts", ".json", "mgsketch")(
      stateJson, parseState, _.foldLeft(agg.zero)(agg.merge))
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
    Mg(capacity).append(spark, storePath, batchId, autoCompactAt) {
      batch.select(explode(Text.terms(col("text"))).as("term"))
        .as[String]
        .select(new Sketches.MisraGriesAgg(capacity).toColumn.name("s"))
        .head()
    }
  }

  /** The accumulated summary as a relation (term, mg_weight) — the
    * serving read, O(capacity) rows.
    */
  def heavyHitters(spark: SparkSession, storePath: String,
                   capacity: Int = DefaultCapacity): DataFrame = {
    import spark.implicits._
    Mg(capacity).state(spark, storePath).counters.toSeq.toDF("term", "mg_weight")
  }

  // ---------------------------------------------------------------------
  // Count-Min. CMS is a LINEAR sketch — the element-wise sum of per-batch
  // partials is EXACTLY the sketch of the union stream (not merely
  // bound-preserving like MG), so the accumulated state is
  // indistinguishable from a batch pass.
  // ---------------------------------------------------------------------

  val DefaultDepth = 4
  val DefaultWidth = 1024

  /** The CMS family: comma-separated counters (depth × width + the total
    * in the last slot), merged by element-wise sum.
    */
  def Cms(depth: Int = DefaultDepth, width: Int = DefaultWidth): Family[Array[Long]] =
    new Family[Array[Long]]("cms_parts", ".txt", "cmssketch")(
      _.mkString(","), _.split(',').map(_.toLong),
      _.foldLeft(new Array[Long](depth * width + 1)) { (acc, part) =>
        require(part.length == acc.length,
          s"CMS part has ${part.length} counters, " +
            s"store expects ${acc.length} — depth/width changed mid-store")
        var i = 0
        while (i < acc.length) { acc(i) += part(i); i += 1 }
        acc
      })

  /** Fold one micro-batch into its own CMS partial (idempotent by
    * batchId). @return false on a clean replay of a committed batch.
    */
  private[graft] def processBatchCms(batch: DataFrame, batchId: Long,
                                     storePath: String,
                                     depth: Int = DefaultDepth,
                                     width: Int = DefaultWidth,
                                     autoCompactAt: Int = AutoCompactParts): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    Cms(depth, width).append(spark, storePath, batchId, autoCompactAt) {
      batch.select(explode(Text.terms(col("text"))).as("term"))
        .as[String]
        .select(new Sketches.CountMinAgg(depth, width).toColumn.name("s"))
        .head()
    }
  }

  // ---------------------------------------------------------------------
  // Greenwald-Khanna: per-batch QuantileSummaries partials over the
  // per-doc token counts, persisted as (value, g, delta) tuple lines and
  // merged at read — GK merge preserves the rank-error bound for the
  // union stream (the same contract percentile_approx's distributed
  // partial merge relies on).
  // ---------------------------------------------------------------------

  val DefaultAccuracy = 10000

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

  /** The GK family; an absent store reads as the empty summary (count 0). */
  def Gk(accuracy: Int = DefaultAccuracy): Family[QuantileSummaries] = {
    val relErr = 1.0 / accuracy
    new Family[QuantileSummaries]("gk_parts", ".txt", "gksketch")(
      gkSerialize, gkParse(_, relErr),
      _.foldLeft(new QuantileSummaries(
        QuantileSummaries.defaultCompressThreshold, relErr).compress())((a, b) => a.merge(b)))
  }

  /** Fold one micro-batch's per-doc token counts into a GK partial
    * (idempotent by batchId). @return false on replay.
    */
  private[graft] def processBatchGk(batch: DataFrame, batchId: Long,
                                    storePath: String,
                                    accuracy: Int = DefaultAccuracy,
                                    autoCompactAt: Int = AutoCompactParts): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    Gk(accuracy).append(spark, storePath, batchId, autoCompactAt) {
      batch
        .select(size(Text.tokenize(col("text"))).as("n_tokens"))
        .as[Int]
        .select(new Sketches.GKAgg(1.0 / accuracy).toColumn.name("s"))
        .head()
    }
  }

  // ---------------------------------------------------------------------
  // Bloom: the decontamination eval-set filter, maintained
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

  /** The Bloom family. State is the SERIALIZED filter — the form
    * `bloom_contains` probes and `Dedup.decontaminateBloomWith` serves;
    * parts hold its base64. An absent store reads as the empty filter
    * (matches nothing).
    */
  val Bloom: Family[Array[Byte]] =
    new Family[Array[Byte]]("bloom_parts", ".b64", "bloomsketch")(
      java.util.Base64.getEncoder.encodeToString(_),
      text => java.util.Base64.getDecoder.decode(text.trim),
      parts => graft.plans.BloomContains.serialize(
        parts.foldLeft(org.apache.spark.util.sketch.BloomFilter.create(BloomItemCapacity, BloomFpp)) {
          (acc, b) => acc.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(b)))
        }))

  /** Fold one micro-batch of eval-set SHINGLES (a string column `s`)
    * into its own Bloom partial (idempotent by batchId). The partial
    * builds with Spark's distributed sketch aggregation — per-partition
    * filters OR-merged, only the bit array reaching the driver. @return
    * false on a clean replay of a committed batch.
    */
  private[graft] def processBatchBloom(shingles: DataFrame, batchId: Long,
                                       storePath: String,
                                       autoCompactAt: Int = AutoCompactParts): Boolean =
    Bloom.append(shingles.sparkSession, storePath, batchId, autoCompactAt) {
      graft.plans.BloomContains.serialize(
        shingles.stat.bloomFilter("s", BloomItemCapacity, BloomFpp))
    }

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

  val HllLgK = 12

  private def hllJson(m: Map[String, Array[Byte]]): String =
    m.toSeq.sortBy(_._1).map { case (src, b) =>
      s"${esc(src)}: ${esc(java.util.Base64.getEncoder.encodeToString(b))}"
    }.mkString("{", ",", "}")

  /** Source names are `esc`-escaped on write; base64 payloads carry no
    * quotes — the quoted-pair scan below is exact for this format.
    */
  private[graft] def hllParse(json: String): Map[String, Array[Byte]] =
    """"((?:[^"\\]|\\.)*)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(json).map { m =>
      graft.util.JsonText.unesc(m.group(1)) -> java.util.Base64.getDecoder.decode(m.group(2))
    }.toMap

  /** The HLL family: one `Union` per source over all parts at once. */
  val Hll: Family[Map[String, Array[Byte]]] =
    new Family[Map[String, Array[Byte]]]("hll_parts", ".json", "hllsketch")(
      hllJson, hllParse, parts => {
        import org.apache.datasketches.hll.{HllSketch, Union}
        parts.flatMap(_.toSeq).groupBy(_._1).map { case (src, bs) =>
          val u = new Union(HllLgK)
          bs.foreach { case (_, b) => u.update(HllSketch.heapify(b)) }
          src -> u.getResult.toCompactByteArray
        }
      })

  /** Fold one micro-batch of (source, term) rows into per-source HLL
    * partials (idempotent by batchId).
    */
  private[graft] def processBatchHll(terms: DataFrame, batchId: Long,
                                     storePath: String,
                                     autoCompactAt: Int = AutoCompactParts): Boolean =
    Hll.append(terms.sparkSession, storePath, batchId, autoCompactAt) {
      terms
        .groupBy("source")
        .agg(hll_sketch_agg(col("term"), lit(HllLgK)).as("sk"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    }

  /** The accumulated per-source estimates (source, approx_vocab) as a
    * DataFrame — union of every live part's registers, estimated with
    * the same Spark function family the batch pass uses. Absent store
    * reads as empty.
    */
  def hllVocabEstimates(spark: SparkSession, storePath: String): DataFrame = {
    import spark.implicits._
    Hll.state(spark, storePath).toSeq.toDF("source", "sk")
      .groupBy("source")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_vocab"))
  }

  /** Collapse every family's accumulated parts into ONE part each — an
    * all-day stream otherwise accumulates a file per micro-batch and the
    * read-side merge grows linearly. Safe under replay: the runOnce
    * COMMIT MARKERS outlive the parts, so a replayed batch is skipped
    * before it could re-append content the compacted part already
    * carries; associativity makes the merged part ≡ the parts it
    * replaces; crash safety is per family (`Family.compact`). Post-compact
    * ingest keeps appending `batch_<id>` parts with LARGER ids, which
    * merge on top.
    *
    * Refuses (`IllegalStateException`) while a sink over the store is
    * active, like every store compact in this engine: this compaction
    * and the sink's own auto-compaction would race on the same
    * `compacted_upto_<id><ext>.tmp`, and each one's orphan-tmp GC could
    * delete the other's file.
    */
  def compactParts(spark: SparkSession, storePath: String,
                   capacity: Int = DefaultCapacity,
                   depth: Int = DefaultDepth, width: Int = DefaultWidth,
                   accuracy: Int = DefaultAccuracy): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    StoreMaintenance.assertIngestStopped(conf, storePath)
    Seq[Family[_]](Mg(capacity), Cms(depth, width), Gk(accuracy), Bloom, Hll)
      .foreach(_.compact(conf, storePath, atLeast = 0))
  }

  private def lineagePath(store: String) = s"$store/_graft_lineage"

  /** Start the incremental heavy-hitter sink over a document stream.
    * `capacity` MUST stay fixed for the lifetime of a store (see `Mg`).
    * Only the checkpoint lineage that first fed the store may feed it
    * (`_graft_lineage`, see the object doc): a start under another
    * checkpoint throws `IllegalStateException` instead of silently
    * dropping its first batches.
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

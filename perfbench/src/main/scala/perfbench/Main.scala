package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size, sum}

import graft.SparkEntry
import graft.functions.{Text, TextAnalysis}
import graft.operators.{BooleanQuery, Dedup, InvertedIndex}
import graft.sources.{Corpus, IndexStore, TermStatsStore}
import graft.streaming.StreamingIndex

/** The benchmark's engine process. It runs one workload against the
  * engine's public entry points over inputs `gen.py` wrote, and writes
  * one JSON result for `run.py`, which checks the outputs and prints the
  * metrics.
  *
  * Usage: Main <workload> <inputDir> <stateDir> <resultJson> <seconds>
  *             <trace 0|1> <seed> <cores>
  *
  * Every workload is a closed loop with one client and no think time:
  * the next operation starts when the previous one has returned.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, input, state, result, seconds, trace, seed, cores) = args
    val run = new Run(workload, input, state, seconds.toDouble, trace == "1",
      seed.toLong, cores.toInt)
    val out = try run.execute() finally run.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writerWithDefaultPrettyPrinter().writeValue(new File(result), out)
    // streaming and listener threads must not keep the process alive
    sys.exit(0)
  }
}

/** One timed operation: its kind, wall and process-CPU seconds, and
  * whether it failed.
  */
final case class Op(kind: String, seconds: Double, cpu: Double, ok: Boolean)

final class Run(workload: String, input: String, state: String, seconds: Double,
                trace: Boolean, seed: Long, cores: Int) {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val expected: JsonNode = json.readTree(new File(s"$input/expected.json"))
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val errors = mutable.ArrayBuffer.empty[Map[String, String]]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val named = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.LinkedHashMap.empty[String, Any]
  private val samples = mutable.Map.empty[String, mutable.Buffer[Double]]
  private var spark: SparkSession = _
  private val tracer = new Tracer(trace, spark)

  /** Ingest loop iterations per run, at least. */
  private val MinIterations = 1
  /** Serve set-up ends with this many queries from the end of the sequence. */
  private val WarmQueries = 18
  /** The deck queries the traced serve run times, one call each. */
  private val DeckProbe = Seq("q1_agg", "q3_join", "q5_multijoin", "q_rollup_revenue",
    "q_window_shapes", "q_semijoin", "q_top_supplier", "q_percentiles")
  private val Fixpoints = Seq("q_pagerank_docs" -> "pagerank", "q_hits_docs" -> "hits",
    "q_communities" -> "lpa")

  // ------------------------------------------------------------ helpers

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (now() - t0) / 1e9

  /** CPU time of the whole engine process (driver and executors run in it
    * at local[N]); the artifact reports it next to the wall times.
    */
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime
  private def cpuSecs(c0: Long): Double = (cpuNs() - c0) / 1e9

  private def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.toSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  private def pct(xs: Iterable[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.toSeq.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  private def message(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}" +
      (if (root ne e) s" (cause: ${root.getClass.getName}: ${root.getMessage})" else "")
  }

  private def fail(what: String, text: String): Unit =
    errors += Map("op" -> what, "error" -> text.take(2000))

  /** Run one timed operation; a throw is recorded with its text and
    * counted as a failed operation, never dropped.
    */
  private def timedOp[T](kind: String)(body: => T): Option[T] = {
    tracer.op += 1
    val t0 = now()
    val c0 = cpuNs()
    try {
      val r = body
      ops += Op(kind, secs(t0), cpuSecs(c0), ok = true)
      Some(r)
    } catch {
      case e: Exception =>
        ops += Op(kind, secs(t0), cpuSecs(c0), ok = false)
        fail(kind, message(e))
        None
    }
  }

  private def okOps(kind: String): Seq[Op] = ops.filter(o => o.ok && o.kind == kind).toSeq
  private def okSeconds(kind: String): Seq[Double] = okOps(kind).map(_.seconds)
  private def okCpu(kind: String): Seq[Double] = okOps(kind).map(_.cpu)

  private def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.Buffer.empty) += v
  private def sampled(k: String): Seq[Double] = samples.get(k).fold(Seq.empty[Double])(_.toSeq)

  /** An output check: a mismatch counts as a failed operation. */
  private def check(what: String)(ok: => Boolean, detail: => String): Unit = {
    val good = try ok catch { case e: Exception => fail(what, message(e)); false }
    checks(what) = good
    if (!good) {
      ops += Op(s"check:$what", 0.0, 0.0, ok = false)
      fail(s"check:$what", detail)
    }
  }

  /** A fresh copy of a generated corpus: the engine's stores are built
    * once per corpus directory, so each build needs its own directory.
    */
  private def copyCorpus(from: String, dst: String): String = {
    Files.createDirectories(Paths.get(dst))
    Files.copy(Paths.get(s"$input/$from/documents.parquet"),
      Paths.get(s"$dst/documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dst
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  private def spanSecs(name: String): Seq[Double] = tracer.named(name).map(tracer.seconds)

  private def spanCount(name: String, counter: String): Double =
    tracer.named(name).map(_.counts.getOrElse(counter, 0L)).sum.toDouble

  /** Time one probe call into a layer (traced runs only). */
  private def probe[T](name: String)(body: => T): T = {
    val t0 = now()
    val r = tracer.span(name)(body)
    layers(s"${name}_s") = secs(t0)
    r
  }

  /** A group of probes; a throw is a failed operation with its text. */
  private def probes(what: String)(body: => Unit): Unit =
    try body catch {
      case e: Exception =>
        ops += Op(s"probe:$what", 0.0, 0.0, ok = false)
        fail(s"probe:$what", message(e))
    }

  // ------------------------------------------------------------ session

  private val tmp = System.getProperty("java.io.tmpdir")

  private def startSession(): Double = {
    val t0 = now()
    var b = graft.util.EngineSession.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", s"$state/spark-local")
      .config("spark.sql.warehouse.dir", s"$state/spark-warehouse")
    if (trace)
      b = b.config("spark.extraListeners", classOf[TaskListener].getName)
        .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    secs(t0)
  }

  def stop(): Unit = if (spark != null) spark.stop()

  def execute(): Map[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    layers("session.start_s") = startSession()
    val toSessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    workload match {
      case "ingest" => ingest(toSessionS)
      case "serve" => serve(toSessionS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace) traceSummary()
    Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "attempted" -> ops.size, "failed" -> ops.count(!_.ok),
      "errors" -> errors.toSeq,
      "named" -> named.toMap,
      "layers" -> layers.toMap,
      "checks" -> checks.toMap,
      "peak_rss_mb" -> peakRssMb(),
      "op_seconds" -> ops.map(o => Seq[Any](o.kind, o.seconds, o.cpu)).toSeq,
      "ops" -> ops.groupBy(_.kind).map { case (k, os) =>
        k -> Map("n" -> os.size, "failed" -> os.count(!_.ok),
          "p50_ms" -> median(os.map(_.seconds)) * 1e3)
      },
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counts" -> s.counts.filter(_._2 != 0))).toSeq)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Listener counts and wall seconds of the timed window. */
  private var windowCounts = Map.empty[String, Long]
  private var windowS = 0.0
  private var windowCpu = 0.0

  private def timedWindow(body: => Unit): Unit = {
    val c0 = if (trace) tracer.drainedCounts() else Map.empty[String, Long]
    val t0 = now()
    val cpu0 = cpuNs()
    body
    windowS = secs(t0)
    windowCpu = cpuSecs(cpu0)
    if (trace) {
      val c1 = tracer.drainedCounts()
      windowCounts = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) }
    }
  }

  /** The six stores the index serves from, built over the corpus copy in
    * `dir`: postings and positional postings (term-bucketed) and the four
    * term-statistics relations. The build is eager: each store call
    * writes its files before it returns.
    */
  private def buildStores(dir: String): Unit = {
    def part[T](name: String)(body: => T): T = {
      val t0 = now()
      val r = tracer.span(s"sources.store_build.$name")(body)
      sample(s"sources.store_build_s.$name", secs(t0))
      r
    }
    tracer.span("sources.index_write") {
      part("index_postings")(IndexStore.postings(spark, dir))
      part("index_positional")(IndexStore.positionalPostings(spark, dir))
    }
    tracer.span("sources.termstats_build") {
      part("termstats_tf")(TermStatsStore.tf(spark, dir))
      part("termstats_stats")(TermStatsStore.stats(spark, dir))
      part("termstats_doclen")(TermStatsStore.docLengths(spark, dir))
      part("termstats_scalars")(TermStatsStore.scalars(spark, dir))
    }
  }

  private def storeBytes(): Long =
    Seq("graft_index", "graft_termstats").map(f => dirBytes(new File(s"$tmp/$f"))).sum

  /** Median build seconds per store part, over the builds after `skip`. */
  private def storeParts(skip: Int): Unit =
    samples.keys.filter(_.startsWith("sources.store_build_s.")).foreach { k =>
      layers(k) = median(sampled(k).drop(skip))
    }

  // ---- ingest: bulk build, then streamed micro-batches with compaction

  private final case class Batch(rows: Seq[(Long, String, String)], docs: Int,
                                 pairs: Long, probe: String, probeDocs: Set[Long])

  private def ingest(toSessionS: Double): Unit = {
    val nDocs = expected.get("n_docs").asInt
    def rowsOf(path: String): Seq[(Long, String, String)] =
      spark.read.parquet(path).select("doc_id", "source", "text").collect()
        .map(r => (r.getLong(0), s"doc://${r.getString(1)}/${r.getLong(0)}", r.getString(2))).toSeq
    val batches = expected.get("batches").elements().asScala.toSeq.zipWithIndex.map { case (b, k) =>
      Batch(rowsOf(s"$input/stream/batch_$k.parquet"), b.get("docs").asInt,
        b.get("posting_pairs").asLong, b.get("probe").asText,
        b.get("probe_docs").elements().asScala.map(_.asLong).toSet)
    }
    // set-up: one untimed pass of the loop body, which pays the cold JVM
    // and code-generation costs
    val buildS, iterS, iterCpu = mutable.ArrayBuffer.empty[Double]
    def iteration(i: Int, timed: Boolean): Unit = {
      val tIter = now()
      val cIter = cpuNs()
      val dir = copyCorpus("corpus", s"$state/ingest_$i")
      val bytes0 = storeBytes()
      if (!timed) buildStores(dir)
      else timedOp("build")(buildStores(dir)).foreach { _ =>
        buildS += ops.last.seconds
        if (i == 1) layers("sources.index_bytes") = (storeBytes() - bytes0).toDouble
      }
      stream(s"ingest_$i", batches, timed)
      if (timed) {
        iterS += secs(tIter)
        iterCpu += cpuSecs(cIter)
        val want = expected.get("posting_pairs").asLong
        check(s"bulk_postings_$i")(IndexStore.postings(spark, dir).count() == want,
          s"bulk posting count ${IndexStore.postings(spark, dir).count()} != " +
            s"generated distinct (term, doc) pairs $want")
      }
      spark.catalog.clearCache()
    }
    val tSetup = now()
    iteration(0, timed = false)
    named("setup_s") = toSessionS + secs(tSetup)

    timedWindow {
      val t0 = now()
      var i = 1
      while (i <= MinIterations || secs(t0) < seconds) {
        iteration(i, timed = true)
        i += 1
      }
    }
    val micro = okSeconds("micro_batch").map(_ * 1e3)
    named("build_docs_per_s") = nDocs / median(buildS)
    named("append_docs_per_s") =
      batches.map(_.docs).sum.toDouble / batches.size / median(sampled("append"))
    named("op_p50_ms") = median(micro)
    named("op_p95_ms") = pct(micro, 95)
    named("pass_s") = median(iterS)
    named("work_per_cpu_s") = nDocs / median(okCpu("build"))
    named("op_cpu_ms") = median(okCpu("micro_batch")) * 1e3
    named("pass_cpu_s") = median(iterCpu)
    named("ops_per_s") = named("build_docs_per_s")
    storeParts(skip = 1)
    layers("sources.index_bytes_per_text_byte") =
      layers.getOrElse("sources.index_bytes", 0.0) / expected.get("text_bytes").asDouble
    named("index_bytes_per_text_byte") = layers("sources.index_bytes_per_text_byte")
    layers("sources.index_write_s") = median(spanSecs("sources.index_write").drop(1))
    layers("sources.termstats_build_s") = median(spanSecs("sources.termstats_build").drop(1))
    layers("streaming.append_p50_s") = median(sampled("append"))
    layers("streaming.read_after_write_ms") = median(sampled("lookup").map(_ * 1e3))
    layers("streaming.compact_s") = median(okSeconds("compact"))
    layers("streaming.files_per_bucket") = median(sampled("files_per_bucket"))
    if (trace) {
      val dir = copyCorpus("corpus", s"$state/probe")
      probes("ingest")(ingestProbes(dir))
      probes("curate")(curateProbes(dir))
    }
  }

  /** Stream `batches` through `StreamingIndex` into a fresh bucketed table,
    * look up each batch's probe term after it lands, then compact.
    */
  private def stream(name: String, batches: Seq[Batch], timed: Boolean): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tbl = s"perfbench_stream_$name"
    val path = s"$state/stream_$name/idx"
    val in = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val q = StreamingIndex.sinkToIndex(
      StreamingIndex.postingsStream(in.toDF().toDF("doc_id", "url", "text", "ingest_t")),
      tbl, path, s"$state/stream_$name/ckpt")
    def op[T](kind: String)(body: => T): Option[T] =
      if (timed) timedOp(kind)(body) else Some(body)
    try {
      batches.zipWithIndex.foreach { case (b, k) =>
        val ts = new java.sql.Timestamp(1700000000000L + k * 60000L)
        val rows = b.rows.map { case (d, u, t) => (d, u, t, ts) }
        var got = Set.empty[Long]
        op("micro_batch") {
          val t0 = now()
          tracer.span("streaming.append") { in.addData(rows); q.processAllAvailable() }
          if (timed) sample("append", secs(t0))
          val t1 = now()
          got = tracer.span("operators.lookup") {
            // the stream appends through its own session: refresh this
            // session's cached file listing before reading (Spark's rule
            // for tables another session writes)
            spark.catalog.refreshTable(tbl)
            InvertedIndex.lookup(spark.table(tbl), b.probe).select("doc_id").as[Long]
              .collect().toSet
          }
          if (timed) sample("lookup", secs(t1))
        }
        if (timed)
          check(s"read_after_write_${name}_$k")(b.probeDocs.subsetOf(got),
            s"lookup of '${b.probe}' after batch $k misses docs ${(b.probeDocs -- got).take(10)}")
      }
    } finally q.stop()
    if (timed) sample("files_per_bucket", Option(new File(path).listFiles()).toSeq.flatten
      .count(_.getName.startsWith("part-")) / 32.0)
    op("compact")(tracer.span("streaming.compact")(StreamingIndex.compact(spark, tbl, path)))
    if (timed) {
      val want = batches.map(_.pairs).sum
      check(s"stream_postings_$name")(spark.table(tbl).count() == want,
        s"streamed posting count ${spark.table(tbl).count()} != generated $want")
    }
  }

  /** Traced run only: the layers under the bulk build, one call each. */
  private def ingestProbes(dir: String): Unit = {
    val docs = Corpus.documents(spark, dir)
    probe("sources.corpus_scan")(noop(docs))
    val tokens = probe("functions.tokenize") {
      docs.select(size(Text.tokenize(col("text"))).as("n")).agg(sum("n")).head().getLong(0)
    }
    layers("functions.tokens") = tokens.toDouble
    probe("operators.postings")(noop(InvertedIndex.postings(docs)))
  }

  /** Traced run only: the curation layers (the shingle-hash frame, the
    * quality score, MinHash-LSH, connected components) and the three
    * doc-graph fixpoints, over the ingest corpus with its planted
    * duplicates.
    */
  private def curateProbes(dir: String): Unit = {
    val docs = Corpus.documents(spark, dir)
    probe("plans.hash_frame")(noop(Dedup.shingleHashFrame(docs)))
    probe("functions.quality")(
      noop(docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))))
    val hashes = Dedup.shingleHashFrame(docs).cache()
    hashes.count()
    val bands = Dedup.minhashBands(hashes.filter(size(col("sh")) > 0), 24, 3)
      .select("doc_id", "band", "sig")
    val cands = probe("operators.lsh_candidates") {
      bands.as("a").join(bands.as("b"), Seq("band", "sig"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    }
    val pairs = Dedup.nearDuplicatesFromHashes(hashes).cache()
    val verified = probe("operators.lsh_verify")(pairs.count())
    layers("operators.lsh_candidates") = cands.toDouble
    layers("operators.lsh_verified") = verified.toDouble
    layers("operators.lsh_yield") = if (cands > 0) verified.toDouble / cands else 0.0
    checks("lsh_pairs") = pairs.select("doc_a", "doc_b").collect()
      .map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
    probe("operators.clusters")(Dedup.clusters(pairs).count())
    layers("operators.clusters_jobs") = spanCount("operators.clusters", "scheduler.jobs")
    pairs.unpersist()
    hashes.unpersist()
    Fixpoints.foreach { case (q, f) =>
      val t0 = now()
      val df = tracer.span(s"queries.construct.$q")(SparkEntry.queries(q)(spark, dir))
      layers(s"operators.graph_construct_s.$f") = secs(t0)
      val t1 = now()
      tracer.span(s"queries.action.$q")(noop(df))
      layers(s"operators.graph_action_s.$f") = secs(t1)
      layers(s"operators.graph_jobs.$f") =
        spanCount(s"queries.construct.$q", "scheduler.jobs") +
          spanCount(s"queries.action.$q", "scheduler.jobs")
    }
  }

  // ---- serve: a seeded query mix over the index built in setup

  private def serve(toSessionS: Double): Unit = {
    // set-up: the six stores over the served corpus, built cold
    val tSetup = now()
    val dir = copyCorpus("corpus", s"$state/serve")
    buildStores(dir)
    storeParts(skip = 0)
    val postings = IndexStore.postings(spark, dir)
    val positional = IndexStore.positionalPostings(spark, dir)
    val queries = json.readTree(new File(s"$input/queries.json")).elements().asScala.toSeq
      .map(q => (q.get("kind").asText, q.get("terms").elements().asScala.map(_.asText).toSeq))

    def answer(kind: String, terms: Seq[String]): Seq[Any] = tracer.span(s"operators.$kind") {
      def ids(df: DataFrame): Seq[Any] = df.collect().map(_.getLong(0)).sorted.toSeq
      kind match {
        case "lookup" => ids(InvertedIndex.lookup(postings, terms.head).select("doc_id"))
        case "and" => ids(BooleanQuery.and(postings, terms))
        case "or" => ids(BooleanQuery.or(postings, terms))
        case "andnot" => ids(BooleanQuery.andNot(postings, terms.head, terms.tail))
        case "phrase" =>
          InvertedIndex.phraseQuery(positional, terms).collect()
            .map(r => Seq(r.getLong(0), r.getLong(1))).sortBy(_.head).toSeq
        case "bm25" =>
          TermStatsStore.bm25(spark, dir, terms, 10).select("doc_id", "score").collect()
            .map(r => Seq[Any](r.getLong(0), r.getDouble(1))).toSeq
      }
    }
    // the last of set-up: queries from the end of the sequence, off the
    // timed part
    queries.takeRight(WarmQueries).foreach { case (k, t) => answer(k, t) }
    named("setup_s") = toSessionS + secs(tSetup)

    val answers = mutable.LinkedHashMap.empty[String, Any]
    timedWindow {
      val t0 = now()
      var i = 0
      while (i < queries.size - WarmQueries && (i == 0 || secs(t0) < seconds)) {
        val (kind, terms) = queries(i)
        timedOp(kind)(answer(kind, terms)).foreach { r =>
          answers.getOrElseUpdate(s"$kind:${terms.mkString(" ")}", r)
        }
        i += 1
      }
    }
    checks("serve_answers") = answers.toMap
    val lat = ops.filter(_.ok).map(_.seconds * 1e3).toSeq
    val kinds = Seq("lookup", "and", "or", "andnot", "phrase", "bm25")
    kinds.foreach(k => named(s"${k}_p50_ms") = median(okSeconds(k)) * 1e3)
    named("queries_per_s") = ops.size / windowS
    named("query_p50_ms") = median(lat)
    named("query_p95_ms") = pct(lat, 95)
    named("op_p50_ms") = named("query_p50_ms")
    named("pass_s") = kinds.map(k => named(s"${k}_p50_ms")).sum / 1e3
    named("work_per_cpu_s") = ops.size / windowCpu
    named("op_cpu_ms") = median(ops.filter(_.ok).map(_.cpu).toSeq) * 1e3
    named("pass_cpu_s") = kinds.map(k => median(okCpu(k))).sum
    named("ops_per_s") = named("queries_per_s")
    layers("operators.lookup_p50_ms") = named("lookup_p50_ms")
    layers("operators.bool_p50_ms") = median(Seq("and", "or", "andnot").flatMap(okSeconds)) * 1e3
    layers("operators.phrase_p50_ms") = named("phrase_p50_ms")
    layers("operators.bm25_p50_ms") = named("bm25_p50_ms")
    layers("sources.index_write_s") = median(spanSecs("sources.index_write"))
    layers("sources.termstats_build_s") = median(spanSecs("sources.termstats_build"))
    if (trace) DeckProbe.foreach { q =>
      probes(q) {
        val t0 = now()
        val df = tracer.span(s"queries.construct.$q")(
          SparkEntry.queries(q)(spark, s"$input/warehouse"))
        tracer.span(s"queries.action.$q")(noop(df))
        layers(s"queries.deck_s.$q") = secs(t0)
      }
    }
  }

  // ------------------------------------------------------------- trace

  /** Spark-layer counts per timed operation over the timed window, and
    * self time per layer over every span.
    */
  private def traceSummary(): Unit = {
    val nOps = math.max(1, ops.count(!_.kind.startsWith("check:"))).toDouble
    def w(n: String): Double = windowCounts.getOrElse(n, 0L).toDouble
    Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "shuffle.read_bytes",
      "shuffle.write_bytes", "shuffle.spill_bytes", "scan.bytes_read", "scan.files_read",
      "scan.files_total", "catalyst.analysis_ms", "catalyst.optimization_ms",
      "catalyst.planning_ms").foreach(n => layers(n) = w(n) / nOps)
    layers("executor.run_s") = w("executor.run_ms") / 1e3 / nOps
    layers("executor.utilization") =
      if (windowS > 0) w("executor.run_ms") / 1e3 / (windowS * cores) else 0.0
    layers("jvm.gc_s") = w("jvm.gc_ms") / 1e3
    tracer.selfSeconds().foreach { case (layer, s) => layers(s"self_s.$layer") = s }
    layers("trace.spans") = tracer.spans.size.toDouble
    layers("trace.bookkeeping_s") = tracer.bookkeepingNs / 1e9
  }
}

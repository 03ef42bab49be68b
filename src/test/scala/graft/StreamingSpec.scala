package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{EventPipeline, UserSession}

/** The SAME EventPipeline.windowedCounts transform that backs the batch
  * oracle query (q_events_window) runs here under Structured Streaming
  * with a MemoryStream source, proving watermark + tumbling-window
  * semantics (append mode only emits a window once the watermark passes
  * its end).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("windowed counts over a stream: append mode emits closed windows only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val q = EventPipeline.windowedCounts(input.toDF().toDF("t", "event_type", "value"))
      .writeStream.format("memory").queryName("ev_counts").outputMode("append").start()
    try {
      // two events in the 10:00 window, one in 11:00
      input.addData((ts("10:05"), "click", 1.5), (ts("10:40"), "click", 2.5),
        (ts("11:10"), "view", 1.0))
      q.processAllAvailable()
      // watermark so far = 11:10 - 10min = 11:00 → 10:00 window closed? It
      // closes when watermark >= 11:00, which holds → emitted on next batch.
      input.addData((ts("13:00"), "view", 9.0)) // advances watermark to 12:50
      q.processAllAvailable()
      val rows = spark.table("ev_counts")
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", "click", 2L, 4.0)))
      assert(rows.contains(("2024-01-01 11:00:00", "view", 1L, 1.0)))
      // 13:00 window is still open — not emitted in append mode
      assert(!rows.exists(_._1 == "2024-01-01 13:00:00"))
    } finally q.stop()
  }

  test("stateless quality projections (repetition fracs) run unchanged on a stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // the repetition metrics are a pure projection — the SAME column
    // pipeline that backs q_repetition must run per micro-batch with no
    // state, watermark, or output-mode caveats, and agree with batch
    val docsData = Seq(
      (1L, "spark spark spark spark"),
      (2L, "a b c d e a b c d e a b c d e"),
      (3L, "plain unrepetitive text here"))
    def project(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val (top2, dup5) = graft.functions.TextAnalysis.repetitionFracs(col("ts"))
      df.select(col("doc_id"), graft.functions.Text.tokenize(col("text")).as("ts"))
        .select(col("doc_id"), top2.as("top2_frac"), dup5.as("dup5_frac"))
    }
    val input = MemoryStream[(Long, String)]
    val q = project(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("rep_stream").outputMode("append").start()
    try {
      input.addData(docsData.take(2): _*)
      q.processAllAvailable()
      input.addData(docsData.drop(2): _*) // second micro-batch
      q.processAllAvailable()
      val streamed = spark.table("rep_stream")
        .as[(Long, Double, Double)].collect().toSet
      val batch = project(docsData.toDF("doc_id", "text"))
        .as[(Long, Double, Double)].collect().toSet
      assert(streamed === batch)
      assert(streamed.size === 3)
    } finally q.stop()
  }

  test("streaming decontamination: stream-static join flags contaminated docs per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the eval corpus is STATIC (broadcast side); training docs stream in.
    // The per-doc overlap aggregate needs update mode — each doc_id
    // arrives once, so its group finalizes within its own micro-batch
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.Dedup.decontaminate(
      input.toDF().toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("decon_stream").outputMode("update").start()
    try {
      input.addData((1L, "zz alpha beta gamma yy"), (3L, "foo bar baz qux"))
      q.processAllAvailable()
      input.addData((2L, "alpha beta gamma delta qq")) // second micro-batch
      q.processAllAvailable()
      val streamed = spark.table("decon_stream")
        .as[(Long, Long)].collect().toMap
      val batch = graft.operators.Dedup.decontaminate(
        Seq((1L, "zz alpha beta gamma yy"), (3L, "foo bar baz qux"),
          (2L, "alpha beta gamma delta qq")).toDF("doc_id", "text"), bench)
        .as[(Long, Long)].collect().toMap
      assert(streamed === batch)
      assert(streamed === Map(1L -> 1L, 2L -> 2L)) // doc 3 clean, never emitted
    } finally q.stop()
  }

  test("sessionize: event-time gap timeout closes and emits sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = EventPipeline.sessionize(input.toDF().toDF("t", "user_id", "value"), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 7: two events 10 min apart (one session); user 8: one event
      input.addData((ts("10:00"), 7L, 1.0), (ts("10:10"), 7L, 2.0), (ts("10:05"), 8L, 5.0))
      q.processAllAvailable()
      // advance watermark far past both sessions' gap windows
      input.addData((ts("13:00"), 9L, 0.5))
      q.processAllAvailable()
      input.addData((ts("16:00"), 9L, 0.5)) // one more batch so timeouts fire
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .as[UserSession].collect().map(s => s.user_id -> s).toMap
      assert(rows(7L).n_events === 2 && rows(7L).total_value === 3.0)
      assert(rows(7L).start === ts("10:00") && rows(7L).end === ts("10:10"))
      assert(rows(8L).n_events === 1 && rows(8L).total_value === 5.0)
    } finally q.stop()
  }

  test("streaming index build: postings emitted incrementally, re-deliveries deduped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val q = graft.streaming.StreamingIndex
      .postingsStream(input.toDF().toDF("doc_id", "url", "text", "ingest_t"))
      .writeStream.format("memory").queryName("stream_postings").outputMode("append").start()
    try {
      input.addData((1L, "u1", "the cat sat", ts("10:00")))
      q.processAllAvailable()
      // re-delivery of doc 1 (same terms) plus a new doc in a later batch
      input.addData((1L, "u1", "the cat sat", ts("10:05")), (2L, "u2", "cat and dog", ts("10:06")))
      q.processAllAvailable()
      val got = spark.table("stream_postings")
        .as[(String, Long, String)].collect().toSet
      assert(got === Set(
        ("cat", 1L, "u1"), ("sat", 1L, "u1"), // batch 1, re-delivery dropped
        ("cat", 2L, "u2"), ("dog", 2L, "u2")))
    } finally q.stop()
  }

  test("stream-static enrichment join: dim attributes attach with no stream-side state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = EventPipeline.enrichedWindowedTotals(
        input.toDF().toDF("t", "user_id", "value"), dim, "user_id", "tier")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData((ts("10:05"), 7L, 1.5), (ts("10:40"), 7L, 2.5), (ts("10:10"), 8L, 5.0))
      q.processAllAvailable()
      input.addData((ts("13:00"), 7L, 0.5)) // advance watermark → close 10:00
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", "gold", 2L, 4.0)))
      assert(rows.contains(("2024-01-01 10:00:00", "basic", 1L, 5.0)))
    } finally q.stop()
  }

  test("stream-stream interval join: purchases attribute to preceding-hour clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Double)]
    val q = EventPipeline.attributedPurchases(
        clicks.toDF().toDF("t", "user_id"),
        purchases.toDF().toDF("t", "user_id", "value"))
      .writeStream.format("memory").queryName("attributed").outputMode("append").start()
    try {
      // user 7 clicks at 10:00 and 12:30; purchase at 10:45 → only the
      // 10:00 click is within the preceding hour. user 8's click is
      // AFTER their purchase → no match.
      clicks.addData((ts("10:00"), 7L), (ts("12:30"), 7L), (ts("11:00"), 8L))
      purchases.addData((ts("10:45"), 7L, 99.0), (ts("10:30"), 8L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("attributed")
        .as[(Long, Timestamp, Double, Timestamp)].collect().toSet
      assert(rows === Set((7L, ts("10:45"), 99.0, ts("10:00"))))
    } finally q.stop()
  }

  test("left-outer interval join: matches emit eagerly, null rows only after both watermarks pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Double)]
    val q = EventPipeline.attributedClicksLeftOuter(
        clicks.toDF().toDF("t", "user_id"),
        purchases.toDF().toDF("t", "user_id", "value"))
      .writeStream.format("memory").queryName("attr_left").outputMode("append").start()
    try {
      // user 7's click converts within the hour; user 9's never does;
      // user 8 purchases WITHOUT a click (must not appear — clicks are
      // the preserved side)
      clicks.addData((ts("10:00"), 7L), (ts("10:10"), 9L))
      purchases.addData((ts("10:45"), 7L, 99.0), (ts("10:30"), 8L, 5.0))
      q.processAllAvailable()
      def rows = spark.table("attr_left")
        .as[(Long, Timestamp, Option[Timestamp], Option[Double])].collect().toSet
      // matched row eager; user 9's null row must NOT exist yet — the
      // watermark cannot prove no purchase will arrive
      assert(rows === Set((7L, ts("10:00"), Some(ts("10:45")), Some(99.0))))
      // advance BOTH watermarks past 10:10 + 1 h + 10 min delay → the
      // unmatched click flushes null-padded
      clicks.addData((ts("23:00"), 50L))
      purchases.addData((ts("23:00"), 51L, 1.0))
      q.processAllAvailable()
      assert(rows === Set(
        (7L, ts("10:00"), Some(ts("10:45")), Some(99.0)),
        (9L, ts("10:10"), None, None)))
    } finally q.stop()
  }

  test("streaming index sink: micro-batches append to the bucketed table, lookups bucket-prune") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_stream").toString
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val q = graft.streaming.StreamingIndex.sinkToIndex(
      graft.streaming.StreamingIndex
        .postingsStream(input.toDF().toDF("doc_id", "url", "text", "ingest_t")),
      "t_stream_idx", s"$dir/idx", s"$dir/ckpt", buckets = 8)
    try {
      input.addData((1L, "u1", "the cat sat", ts("10:00")))
      q.processAllAvailable()
      input.addData((2L, "u2", "cat and dog", ts("10:05")))
      q.processAllAvailable()
      val tbl = spark.table("t_stream_idx")
      assert(tbl.count() === 4) // cat,sat / cat,dog — both batches landed
      val lookup = tbl.filter($"term" === "cat")
      assert(lookup.select("doc_id").as[Long].collect().sorted === Seq(1L, 2L))
      PlanScans.assertBucketPruned(lookup, _ == 1)
    } finally q.stop()
  }

  test("streaming index equals the batch build when the corpus arrives in micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_equiv_stream").toString
    val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "url", "text").as[(Long, String, String)].collect()
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val q = graft.streaming.StreamingIndex.sinkToIndex(
      graft.streaming.StreamingIndex
        .postingsStream(input.toDF().toDF("doc_id", "url", "text", "ingest_t")),
      "t_equiv_idx", s"$dir/idx", s"$dir/ckpt", buckets = 8)
    try {
      // four micro-batches, minutes apart — all inside the 1h watermark
      docs.grouped(math.max(1, docs.length / 4 + 1)).zipWithIndex.foreach { case (chunk, i) =>
        input.addData(chunk.map(d => (d._1, d._2, d._3, ts(s"10:0$i"))).toSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("t_equiv_idx")
        .select("term", "doc_id", "url").as[(String, Long, String)].collect()
      val batch = graft.operators.InvertedIndex
        .postings(graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001"))
        .as[(String, Long, String)].collect()
      assert(streamed.length === batch.length) // no replay duplicates
      assert(streamed.toSet === batch.toSet)   // identical posting relation
    } finally q.stop()
  }

  test("streaming index sink: one Spark batch per data batch, and a later data batch evicts dedup state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_batches").toString
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val q = graft.streaming.StreamingIndex.sinkToIndex(
      graft.streaming.StreamingIndex
        .postingsStream(input.toDF().toDF("doc_id", "url", "text", "ingest_t")),
      "t_batches_idx", s"$dir/idx", s"$dir/ckpt", buckets = 8)
    // batches that ran: an idle trigger may also post a progress entry,
    // but it runs no addBatch
    def ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch")).toSeq
    try {
      input.addData((1L, "u1", "the cat sat", ts("10:00")))
      q.processAllAvailable()
      input.addData((2L, "u2", "cat and dog", ts("10:05")))
      q.processAllAvailable()
      // both batches advanced the watermark; no watermark-only batch followed
      assert(ran.map(_.batchId) === Seq(0L, 1L))
      assert(ran.forall(_.numInputRows > 0))
      // 13:00 moves the watermark past the 1-hour horizon of both
      // documents; the next data batch evicts their state
      input.addData((3L, "u3", "owl", ts("13:00")))
      q.processAllAvailable()
      input.addData((4L, "u4", "bat", ts("13:01")))
      q.processAllAvailable()
      assert(ran.map(_.batchId) === Seq(0L, 1L, 2L, 3L))
      assert(ran.last.stateOperators.map(_.numRowsRemoved).sum > 0)
      assert(spark.table("t_batches_idx").count() === 6)
    } finally q.stop()
  }

  test("store sink leaves the caller's session conf as it found it; windowed streams keep their no-data batch") {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val s = spark.newSession()
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_conf").toString
    def startAndStopIndex(tag: String): Unit = {
      val in = MemoryStream[(Long, String, String, Timestamp)]
      graft.streaming.StreamingIndex.sinkToIndex(
        graft.streaming.StreamingIndex
          .postingsStream(in.toDF().toDF("doc_id", "url", "text", "ingest_t")),
        s"t_conf_idx_$tag", s"$dir/$tag/idx", s"$dir/$tag/ckpt", buckets = 4).stop()
    }
    assert(!s.conf.getAll.contains(key))
    startAndStopIndex("unset")
    assert(!s.conf.getAll.contains(key), s"the sink left $key set on the session")
    // a windowed stream started afterwards on the same session still
    // closes its window in the no-data batch, with no further data
    val events = MemoryStream[(Timestamp, String, Double)]
    val w = EventPipeline.windowedCounts(events.toDF().toDF("t", "event_type", "value"))
      .writeStream.format("memory").queryName("ev_counts_after_sink").outputMode("append").start()
    try {
      events.addData((ts("10:05"), "click", 1.5), (ts("10:40"), "click", 2.5),
        (ts("11:30"), "view", 1.0)) // watermark 11:20 closes the 10:00 window
      w.processAllAvailable()
      assert(s.table("ev_counts_after_sink").as[(String, String, Long, Double)].collect().toSet
        === Set(("2024-01-01 10:00:00", "click", 2L, 4.0)))
    } finally w.stop()
    s.conf.set(key, "true")
    startAndStopIndex("set")
    assert(s.conf.getAll.get(key) === Some("true"))
  }

  test("streamed index appends write at most one file per bucket per batch at shuffle partitions 1, 4 and 7") {
    // letters only: the tokenizer strips digits
    val words = for (a <- 'a' to 'f'; b <- 'a' to 'j') yield s"term$a$b"
    val corpus = (0 until 120).map { i =>
      (i.toLong, s"u$i", (0 until 8).map(j => words((i * 7 + j * 13) % words.size)).mkString(" "))
    }
    // bucket file name: part-<task>-<write job id>_<bucket>.c<n>...parquet
    val BucketFile = """part-\d{5}-(.+)_(\d{5})\.c\d{3}.*\.parquet""".r
    def filesPerBatchBucket(path: String): Map[(String, String), Int] =
      new java.io.File(path).listFiles().map(_.getName).toSeq
        .collect { case BucketFile(job, bucket) => (job, bucket) }
        .groupBy(identity).map { case (k, v) => k -> v.size }
    for (n <- Seq(1, 4, 7)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val dir = java.nio.file.Files.createTempDirectory(s"graft_files_per_bucket_$n").toString
      val docs = corpus.toDF("doc_id", "url", "text")
      val expected = graft.operators.InvertedIndex.postings(docs)
        .as[(String, Long, String)].collect().sorted.toSeq
      val halves = Seq(0, 1).map(i => docs.filter($"doc_id" % 2 === i))

      val in = MemoryStream[(Long, String, String, Timestamp)]
      val (streamTbl, streamPath) = (s"t_files_stream_$n", s"$dir/stream")
      val q = graft.streaming.StreamingIndex.sinkToIndex(
        graft.streaming.StreamingIndex
          .postingsStream(in.toDF().toDF("doc_id", "url", "text", "ingest_t")),
        streamTbl, streamPath, s"$dir/ckpt", buckets = 8)
      try Seq(0, 1).foreach { i =>
        in.addData(corpus.filter(_._1 % 2 == i).map { case (d, u, t) => (d, u, t, ts(s"10:0$i")) })
        q.processAllAvailable()
      } finally q.stop()

      // direct appends of batches whose rows of one bucket sit in n tasks
      val (directTbl, directPath) = (s"t_files_direct_$n", s"$dir/direct")
      halves.zipWithIndex.foreach { case (h, i) =>
        assert(graft.streaming.StreamingIndex.appendBatch(
          graft.operators.InvertedIndex.postings(h).repartition(n), i.toLong,
          directTbl, directPath, buckets = 8))
      }

      for ((tbl, path) <- Seq(streamTbl -> streamPath, directTbl -> directPath)) {
        val files = filesPerBatchBucket(path)
        assert(files.keys.map(_._1).toSet.size === 2, s"$tbl at $n partitions: $files")
        assert(files.values.forall(_ == 1), s"$tbl at $n partitions: $files")
        val table = s.table(tbl)
        assert(table.select("term", "doc_id", "url").as[(String, Long, String)]
          .collect().sorted.toSeq === expected, s"$tbl at $n partitions")
        PlanScans.assertBucketPruned(table.filter($"term" === expected.head._1), _ == 1)
      }
    }
  }

  test("a first appendBatch into a fresh path logs no FileNotFoundException") {
    // registering the table over a missing directory made Spark log a
    // FileNotFoundException stack trace at WARN, although nothing failed
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fresh_append").toString
    val batch = Seq(("cat", 1L, "u1"), ("dog", 2L, "u2")).toDF("term", "doc_id", "url")
    val (appended, events) = LogCapture.warnings(graft.streaming.StreamingIndex
      .appendBatch(batch, 0L, "t_fresh_append_idx", s"$dir/idx", buckets = 4))
    assert(appended)
    def notFound(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[java.io.FileNotFoundException] || notFound(t.getCause))
    val hits = events.filter(e => notFound(e.getThrown) ||
      e.getMessage.getFormattedMessage.contains("FileNotFoundException"))
    assert(hits.isEmpty, LogCapture.show(hits))
    assert(spark.table("t_fresh_append_idx").count() === 2)
  }

  test("replayed micro-batch id is skipped, not re-appended") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_stream").toString
    val batch = Seq(("cat", 1L, "u1"), ("dog", 2L, "u2")).toDF("term", "doc_id", "url")
    assert(graft.streaming.StreamingIndex
      .appendBatch(batch, 0L, "t_replay_idx", s"$dir/idx", buckets = 4))
    // at-least-once re-delivery of the SAME batchId must be a no-op
    assert(!graft.streaming.StreamingIndex
      .appendBatch(batch, 0L, "t_replay_idx", s"$dir/idx", buckets = 4))
    assert(spark.table("t_replay_idx").count() === 2)
    // a NEW batchId still appends
    assert(graft.streaming.StreamingIndex
      .appendBatch(batch.filter($"term" === "cat"), 1L, "t_replay_idx", s"$dir/idx", buckets = 4))
    assert(spark.table("t_replay_idx").count() === 3)
    // a DIFFERENT checkpoint scope restarts batchIds at 0 — its batch 0
    // must append, not be mistaken for the first stream's committed 0
    assert(graft.streaming.StreamingIndex
      .appendBatch(batch.filter($"term" === "dog"), 0L, "t_replay_idx", s"$dir/idx",
        buckets = 4, scope = graft.streaming.StoreMaintenance.commitScope("other-ckpt",
          spark.sparkContext.hadoopConfiguration)))
    assert(spark.table("t_replay_idx").count() === 4)
  }

  test("commitScope: equivalent spellings of one checkpoint dir share a marker scope") {
    val conf = spark.sparkContext.hadoopConfiguration
    def scope(s: String) = graft.streaming.StoreMaintenance.commitScope(s, conf)
    assert(scope("/tmp/ckpt") === scope("/tmp/ckpt/"))
    assert(scope("/tmp/ckpt") === scope("file:/tmp/ckpt"))
    assert(scope("/tmp/ckpt") !== scope("/tmp/other"))
  }

  test("compact: replay duplicates collapse, one file per bucket, pruning survives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_stream").toString
    val (tbl, path) = ("t_compact_idx", s"$dir/idx")
    val b0 = Seq(("cat", 1L, "u1"), ("sat", 1L, "u1")).toDF("term", "doc_id", "url")
    val b1 = Seq(("cat", 2L, "u2"), ("dog", 2L, "u2")).toDF("term", "doc_id", "url")
    assert(graft.streaming.StreamingIndex.appendBatch(b0, 0L, tbl, path, buckets = 4))
    assert(graft.streaming.StreamingIndex.appendBatch(b1, 1L, tbl, path, buckets = 4))
    // forced replay of batch 1 through the residual window: the crash
    // happened AFTER the append's job commit but BEFORE the marker write,
    // so on restart the marker is absent and the batch re-appends
    val marker = new org.apache.hadoop.fs.Path(s"$path/_graft_commits/default/1")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, false)
    assert(graft.streaming.StreamingIndex.appendBatch(b1, 1L, tbl, path, buckets = 4))
    assert(spark.table(tbl).count() === 6) // duplicates present pre-compact

    graft.streaming.StreamingIndex.compact(spark, tbl, path, buckets = 4)

    // uniqueness restored: boolean AND counts plain hits correctly again
    assert(spark.table(tbl).count() === 4)
    assert(graft.operators.BooleanQuery.and(spark.table(tbl), Seq("cat", "dog"))
      .as[Long].collect().toSeq === Seq(2L))
    // exactly one data file per non-empty bucket (bucket id is the _NNNNN
    // suffix in the file name)
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    val bucketIds = files.map(_.getName.replaceAll(".*_(\\d{5})\\..*", "$1"))
    assert(bucketIds.length === bucketIds.distinct.length,
      s"multiple files in one bucket: ${files.map(_.getName).toSeq}")
    // marker tree cleared with the swap
    assert(!new java.io.File(s"$path/_graft_commits").exists())
    // bucket pruning still active over the re-registered table
    PlanScans.assertBucketPruned(spark.table(tbl).filter($"term" === "cat"), _ == 1)
  }

  test("compact after a stale read keeps every streamed batch") {
    // the stream appends through its own session: a session that read
    // the table after batch 0 holds a file list without batch 1, and
    // compact must not rewrite the table from that list
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_stale").toString
    val (tbl, path) = ("t_compact_stale_idx", s"$dir/idx")
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val q = graft.streaming.StreamingIndex.sinkToIndex(
      graft.streaming.StreamingIndex
        .postingsStream(input.toDF().toDF("doc_id", "url", "text", "ingest_t")),
      tbl, path, s"$dir/ckpt", buckets = 4)
    try {
      input.addData((1L, "u1", "the cat sat", ts("10:00")))
      q.processAllAvailable()
      assert(spark.table(tbl).count() === 2) // cat,sat
      input.addData((2L, "u2", "cat and dog", ts("10:05")))
      q.processAllAvailable()
    } finally q.stop()
    graft.streaming.StreamingIndex.compact(spark, tbl, path, buckets = 4)
    assert(spark.table(tbl).count() === 4) // batch 1's cat,dog survive
    assert(spark.table(tbl).filter($"doc_id" === 2L).count() === 2)
  }

  test("fresh-session restart: appendBatch over an existing on-disk index must not wipe it (no-CTAS regression)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val (tbl, path) = ("t_restart_idx", s"$dir/idx")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b0 = Seq(("cat", 1L, "u1"), ("sat", 1L, "u1")).toDF("term", "doc_id", "url")
    val b1 = Seq(("dog", 2L, "u2")).toDF("term", "doc_id", "url")
    assert(graft.streaming.StreamingIndex.appendBatch(b0, 0L, tbl, path, buckets = 4))
    // simulate a JVM restart: the in-memory catalog entry is gone, the
    // external table's files (and committed markers) remain on disk
    spark.sql(s"DROP TABLE $tbl")
    assert(fs.exists(new Path(s"$path/_graft_commits/default/0")))
    // first append of the new session: before the no-CTAS fix this went
    // down saveAsTable's table-creating CTAS path, which CLEARS the
    // location — wiping batch 0's rows and its commit marker
    assert(graft.streaming.StreamingIndex.appendBatch(b1, 1L, tbl, path, buckets = 4))
    assert(fs.exists(new Path(s"$path/_graft_commits/default/0")), "batch 0's marker was wiped")
    assert(spark.table(tbl).as[(String, Long, String)].collect().toSet
      === Set(("cat", 1L, "u1"), ("sat", 1L, "u1"), ("dog", 2L, "u2")))
    // and replay of batch 0 is still recognized as committed
    assert(!graft.streaming.StreamingIndex.appendBatch(b0, 0L, tbl, path, buckets = 4))
    // bucket pruning intact over the re-registered table
    PlanScans.assertBucketPruned(spark.table(tbl).filter($"term" === "cat"), _ == 1)
  }

  test("compact crash windows: every row recoverable on disk, recoverCompact restores the table from each state") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_compact").toString
    val (tbl, path) = ("t_crash_idx", s"$dir/idx")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b0 = Seq(("cat", 1L, "u1"), ("sat", 1L, "u1")).toDF("term", "doc_id", "url")
    val b1 = Seq(("cat", 2L, "u2"), ("dog", 2L, "u2")).toDF("term", "doc_id", "url")
    assert(graft.streaming.StreamingIndex.appendBatch(b0, 0L, tbl, path, buckets = 4))
    assert(graft.streaming.StreamingIndex.appendBatch(b1, 1L, tbl, path, buckets = 4))
    assert(graft.streaming.StreamingIndex.appendBatch(b1, 2L, tbl, path, buckets = 4)) // replay dup
    val distinctRows = Set(("cat", 1L, "u1"), ("sat", 1L, "u1"), ("cat", 2L, "u2"), ("dog", 2L, "u2"))

    // Replicate compact()'s steps, stopping at each crash point in turn.
    val (tmpTable, tmpPath, oldPath) = (tbl + "__compacting", path + "__compacting", path + "__pre_compact")
    val compacted = spark.table(tbl).dropDuplicates("term", "doc_id")
    graft.sources.Sinks.writeIndex(compacted, tmpTable, tmpPath, 4)
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")

    // CRASH POINT B — before the first rename: live path intact, side-dir
    // rewrite present. Recovery keeps the live (uncompacted) data and
    // discards the rewrite; a later compact() just re-runs.
    graft.streaming.StreamingIndex.recoverCompact(spark, tbl, path, buckets = 4)
    assert(spark.table(tbl).count() === 6) // dups still present — compact never landed
    assert(!fs.exists(new Path(tmpPath)))

    // …re-create the rewrite and crash BETWEEN the renames (point A): the
    // live path is gone; originals sit in __pre_compact, compacted files in
    // __compacting — every distinct row is recoverable from disk.
    graft.sources.Sinks.writeIndex(spark.table(tbl).dropDuplicates("term", "doc_id"),
      tmpTable, tmpPath, 4)
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    fs.delete(new Path(oldPath), true)
    assert(fs.rename(new Path(path), new Path(oldPath))) // …and the process dies here
    assert(!fs.exists(new Path(path)))
    val survivors = spark.read.parquet(oldPath).select("term", "doc_id", "url")
      .as[(String, Long, String)].collect().toSet ++
      spark.read.parquet(tmpPath).select("term", "doc_id", "url")
        .as[(String, Long, String)].collect().toSet
    assert(survivors === distinctRows)
    graft.streaming.StreamingIndex.recoverCompact(spark, tbl, path, buckets = 4)
    assert(spark.table(tbl).as[(String, Long, String)].collect().toSet === distinctRows)
    assert(!fs.exists(new Path(oldPath)) && !fs.exists(new Path(tmpPath)))

    // CRASH POINT C — after the swap, before/inside the DDL: drop the
    // catalog entry to simulate dying mid-re-registration; the files are
    // final, recovery is exactly re-running the DDL.
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.streaming.StreamingIndex.recoverCompact(spark, tbl, path, buckets = 4)
    assert(spark.table(tbl).as[(String, Long, String)].collect().toSet === distinctRows)

    // FRESH DEPLOYMENT — no live path, no side dirs: "safe to run
    // unconditionally" means a restart script's very first run must
    // no-op, not throw
    graft.streaming.StreamingIndex.recoverCompact(spark, "t_never_existed",
      s"$dir/never_existed", buckets = 4)
    assert(!spark.catalog.tableExists("t_never_existed"))

    // PRE-COMPACT FALLBACK — live path and rewrite both gone (rewrite
    // manually cleared after a crash between the renames): the
    // originals in __pre_compact are restored rather than data-lost
    fs.delete(new Path(oldPath), true)
    assert(fs.rename(new Path(path), new Path(oldPath)))
    fs.delete(new Path(tmpPath), true)
    graft.streaming.StreamingIndex.recoverCompact(spark, tbl, path, buckets = 4)
    assert(spark.table(tbl).as[(String, Long, String)].collect().toSet === distinctRows)
    assert(!fs.exists(new Path(oldPath)))
    // bucket pruning survives recovery (the re-registered spec matches the files)
    PlanScans.assertBucketPruned(spark.table(tbl).filter($"term" === "cat"), _ == 1)
  }

  test("batch and streaming agree on the same input") {
    import spark.implicits._
    val batch = Seq((ts("10:05"), "click", 1.5), (ts("10:40"), "click", 2.5))
      .toDF("t", "event_type", "value")
    val r = EventPipeline.windowedCounts(batch).as[(String, String, Long, Double)].collect()
    assert(r.toSeq === Seq(("2024-01-01 10:00:00", "click", 2L, 4.0)))
  }

  /** Deterministic corpus with GUARANTEED near-duplicates: 24 base docs
    * of 30 tokens from a 50-word pool, plus a one-token-replaced variant
    * of every fourth doc (J ≈ 25/31 ≈ 0.81 ≥ 0.5, well above threshold).
    * Variants get ids 1000+i so original and variant land in DIFFERENT
    * micro-batches when fed in id order — the cross-batch discovery path.
    */
  private def nearDupFixture: Seq[(Long, String)] = {
    val pool = (0 until 50).map(i => s"w${i}word")
    val base = (0 until 24).map { i =>
      i.toLong -> (0 until 30).map(j => pool((i * 7 + j * 3) % 50)).mkString(" ")
    }
    val variants = base.collect { case (id, text) if id % 4 == 0 =>
      val ts = text.split(" ").toVector
      (1000L + id) -> ts.updated(5, "mutated").mkString(" ")
    }
    base ++ variants
  }

  test("streaming near-dup equals the batch pair set when the corpus arrives in micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dedup").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    val fixture = nearDupFixture.sortBy(_._1) // originals first, variants last
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.sinkNearDup(
      input.toDF().toDF("doc_id", "text"), store, ckpt)
    try {
      // three micro-batches: every variant arrives in a LATER batch than
      // its original, so most pairs exercise the new-vs-store join
      fixture.grouped(fixture.length / 3 + 1).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = graft.streaming.StreamingDedup.pairs(spark, store)
        .as[(Long, Long, Double)].collect().toSet
      val batch = graft.operators.Dedup.nearDuplicates(fixture.toDF("doc_id", "text"))
        .as[(Long, Long, Double)].collect().toSet
      assert(batch.nonEmpty) // the fixture must actually contain near-dups
      assert(batch.size >= 6) // one pair per variant at minimum
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming near-dup replay: committed batchId skipped; residual-window duplicates collapse on compact") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_replay").toString
    val store = s"$dir/store"
    val fixture = nearDupFixture
    val (b0, b1) = fixture.partition(_._1 < 1000L) // originals, then variants
    assert(graft.streaming.StreamingDedup.processBatch(b0.toDF("doc_id", "text"), 0L, store))
    assert(graft.streaming.StreamingDedup.processBatch(b1.toDF("doc_id", "text"), 1L, store))
    val expected = graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty)
    // at-least-once re-delivery of a committed batchId is a no-op
    assert(!graft.streaming.StreamingDedup.processBatch(b1.toDF("doc_id", "text"), 1L, store))
    // residual window: crash AFTER the appends, BEFORE the marker — on
    // restart the marker is absent and the batch re-processes
    val marker = new Path(s"$store/_graft_commits/default/1")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, false)
    assert(graft.streaming.StreamingDedup.processBatch(b1.toDF("doc_id", "text"), 1L, store))
    // raw stores now hold duplicates, but the accessors stay EXACT…
    assert(spark.read.parquet(s"$store/hashes").count()
      > graft.streaming.StreamingDedup.hashes(spark, store).count())
    assert(graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet === expected)
    // …and compactStore restores physical uniqueness + clears markers
    graft.streaming.StreamingDedup.compactStore(spark, store)
    assert(spark.read.parquet(s"$store/hashes").count()
      === graft.streaming.StreamingDedup.hashes(spark, store).count())
    assert(spark.read.parquet(s"$store/pairs")
      .select("doc_a", "doc_b", "jaccard") // + ingest_ms (version stamp) on disk
      .as[(Long, Long, Double)].collect().toSet === expected)
    assert(!new java.io.File(s"$store/_graft_commits").exists())
    // the accumulated hash frame also feeds the OTHER dedup flavors: the
    // rare-shingle jaccard path over the streamed store equals batch
    val viaStore = graft.operators.Dedup.jaccardPairsFromShingles(
        graft.operators.Dedup.materializeOnce(
          graft.streaming.StreamingDedup.hashes(spark, store)))
      .as[(Long, Long, Double)].collect().toSet
    val viaBatch = graft.operators.Dedup.jaccardPairs(fixture.toDF("doc_id", "text"))
      .as[(Long, Long, Double)].collect().toSet
    assert(viaStore === viaBatch && viaStore.nonEmpty)
  }

  /** Deterministic embedding fixture: 24 base vectors (6 dims, values in
    * [-5, 5] with varied sign patterns) plus a 0.5-scaled copy of every
    * fourth (identical signs → same bucket; cosine exactly 1.0).
    */
  private def embedFixture: Seq[(Long, Seq[Double])] = {
    val base = (0 until 24).map { i =>
      i.toLong -> (0 until 6).map(d => (((i * 7 + d * 3) % 11) - 5).toDouble)
    }
    val variants = base.collect { case (id, v) if id % 4 == 0 =>
      (1000L + id) -> v.map(_ * 0.5)
    }
    base ++ variants
  }

  test("streaming embedding near-dup equals the batch pair set; replay skipped; compact collapses residuals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_embed").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    val fixture = embedFixture.sortBy(_._1) // variants arrive after their originals
    val input = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingEmbed.sinkEmbedDup(
      input.toDF().toDF("vec_id", "embedding"), store, ckpt, bits = 4)
    try {
      fixture.grouped(fixture.length / 3 + 1).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = graft.streaming.StreamingEmbed.pairs(spark, store)
        .as[(Long, Long, Double)].collect().toSet
      val batch = graft.operators.Similarity
        .embeddingDuplicates(fixture.toDF("vec_id", "embedding"), bits = 4)
        .as[(Long, Long, Double)].collect().toSet
      assert(batch.size >= 6) // every scaled copy pairs with its original at sim 1.0
      assert(streamed === batch)
    } finally q.stop()

    // replay of a committed batchId is a no-op; after a forced residual
    // re-append, compactStore restores physical uniqueness
    val b = fixture.take(8).toDF("vec_id", "embedding")
    assert(!graft.streaming.StreamingEmbed.processBatch(b, 0L, store,
      graft.streaming.StoreMaintenance.commitScope(ckpt, spark.sparkContext.hadoopConfiguration),
      bits = 4))
    assert(graft.streaming.StreamingEmbed.processBatch(b, 99L, store, bits = 4)) // new scope+id appends
    val expected = graft.streaming.StreamingEmbed.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet
    graft.streaming.StreamingEmbed.compactStore(spark, store)
    assert(spark.read.parquet(s"$store/vecs").count()
      === graft.streaming.StreamingEmbed.vectors(spark, store).count())
    assert(graft.streaming.StreamingEmbed.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet === expected)
    assert(!new java.io.File(s"$store/_graft_commits").exists())
  }

  test("streaming embedding ingest tolerates null embeddings (no poison-pill batch)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_embed_null").toString
    val store = s"$dir/store"
    // a NULL-embedding record as the batch's first row used to NPE the
    // dims probe, crashing the stream before the marker write — every
    // restart then replayed the same batch and crashed again
    val withNull = Seq(
      (2L, None: Option[Seq[Double]]),
      (1L, Some(Seq(1.0, -2.0, 3.0, -4.0, 5.0, -6.0)))
    ).toDF("vec_id", "embedding")
    assert(graft.streaming.StreamingEmbed.processBatch(withNull, 0L, store, bits = 4))
    assert(graft.streaming.StreamingEmbed.vectors(spark, store).count() === 1) // null dropped
  }

  test("streaming near-dup compact crash windows: recoverStore restores every sub-store state") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_crash").toString
    val store = s"$dir/store"
    val fixture = nearDupFixture
    assert(graft.streaming.StreamingDedup.processBatch(fixture.toDF("doc_id", "text"), 0L, store))
    val expected = graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // crash BETWEEN the renames on the pairs sub-store: live dir absent,
    // compacted rewrite complete in __compacting — recover installs it
    val pairsDir = s"$store/pairs"
    spark.read.parquet(pairsDir).dropDuplicates("doc_a", "doc_b")
      .write.mode("overwrite").parquet(pairsDir + "__compacting")
    assert(fs.rename(new Path(pairsDir), new Path(pairsDir + "__pre_compact")))
    assert(!fs.exists(new Path(pairsDir))) // …process dies here
    graft.streaming.StreamingDedup.recoverStore(spark, store)
    assert(graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet === expected)
    assert(!fs.exists(new Path(pairsDir + "__compacting")))
    assert(!fs.exists(new Path(pairsDir + "__pre_compact")))

    // crash BEFORE any rename (stale side dirs only): recover discards
    // the pending rewrite, live stores untouched
    spark.read.parquet(s"$store/hashes")
      .write.mode("overwrite").parquet(s"$store/hashes__compacting")
    graft.streaming.StreamingDedup.recoverStore(spark, store)
    assert(!fs.exists(new Path(s"$store/hashes__compacting")))
    assert(graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet === expected)

    // pre-compact fallback: live dir and rewrite both gone (rewrite
    // manually cleared post-crash) — the originals are restored
    val nHashes = graft.streaming.StreamingDedup.hashes(spark, store).count()
    assert(fs.rename(new Path(s"$store/hashes"), new Path(s"$store/hashes__pre_compact")))
    graft.streaming.StreamingDedup.recoverStore(spark, store)
    assert(graft.streaming.StreamingDedup.hashes(spark, store).count() === nHashes)
    assert(!fs.exists(new Path(s"$store/hashes__pre_compact")))
  }

  test("compacting a CRASHED store restores the swapped-out sub-store instead of serving empty") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_compact").toString
    val store = s"$dir/store"
    assert(graft.streaming.StreamingDedup.processBatch(
      nearDupFixture.toDF("doc_id", "text"), 0L, store))
    val expected = graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty)
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash between the renames on pairs/: live dir gone, rewrite complete
    // in __compacting. The old compactSub silently no-opped here while
    // compactStore still cleared the commit markers — success reported,
    // empty store served until a separate recoverStore run.
    val pairsDir = s"$store/pairs"
    spark.read.parquet(pairsDir).dropDuplicates("doc_a", "doc_b")
      .write.mode("overwrite").parquet(pairsDir + "__compacting")
    assert(fs.rename(new Path(pairsDir), new Path(pairsDir + "__pre_compact")))
    graft.streaming.StreamingDedup.compactStore(spark, store) // NOT recoverStore
    assert(graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet === expected)
    assert(!fs.exists(new Path(pairsDir + "__compacting")))
    assert(!fs.exists(new Path(pairsDir + "__pre_compact")))
  }

  test("compactAll refuses while any ingest is active; after stop it compacts all three stores") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_all").toString
    val (idxTbl, idxPath) = ("t_compact_all_idx", s"$dir/idx")
    val (dedupStore, embedStore) = (s"$dir/dedup", s"$dir/embed")
    val docsIn = MemoryStream[(Long, String, String, Timestamp)]
    val dedupIn = MemoryStream[(Long, String)]
    val embedIn = MemoryStream[(Long, Seq[Double])]
    val qIdx = graft.streaming.StreamingIndex.sinkToIndex(
      graft.streaming.StreamingIndex
        .postingsStream(docsIn.toDF().toDF("doc_id", "url", "text", "ingest_t")),
      idxTbl, idxPath, s"$dir/ckpt_idx", buckets = 4)
    val qDedup = graft.streaming.StreamingDedup.sinkNearDup(
      dedupIn.toDF().toDF("doc_id", "text"), dedupStore, s"$dir/ckpt_dedup")
    val qEmbed = graft.streaming.StreamingEmbed.sinkEmbedDup(
      embedIn.toDF().toDF("vec_id", "embedding"), embedStore, s"$dir/ckpt_embed", bits = 4)
    try {
      docsIn.addData((1L, "u1", "the cat sat", ts("10:00")))
      dedupIn.addData(nearDupFixture)
      embedIn.addData(embedFixture)
      qIdx.processAllAvailable(); qDedup.processAllAvailable(); qEmbed.processAllAvailable()
      // all three queries still active → the deployment-wide compact refuses
      // BEFORE touching anything (the single-store compacts refuse too)
      intercept[IllegalStateException](graft.streaming.StoreMaintenance.compactAll(spark,
        indexTables = Seq((idxTbl, idxPath, 4)), dedupStores = Seq(dedupStore),
        embedStores = Seq(embedStore)))
      intercept[IllegalStateException](
        graft.streaming.StreamingDedup.compactStore(spark, dedupStore))
      intercept[IllegalStateException](
        graft.streaming.StreamingIndex.compact(spark, idxTbl, idxPath, buckets = 4))
      intercept[IllegalStateException](
        graft.streaming.StreamingEmbed.compactStore(spark, embedStore))
      // stopping ONE store's ingest doesn't unlock the others
      qDedup.stop()
      intercept[IllegalStateException](graft.streaming.StoreMaintenance.compactAll(spark,
        indexTables = Seq((idxTbl, idxPath, 4)), dedupStores = Seq(dedupStore),
        embedStores = Seq(embedStore)))
    } finally { qIdx.stop(); qDedup.stop(); qEmbed.stop() }
    val expIdx = spark.table(idxTbl).as[(String, Long, String)].collect().toSet
    val expPairs = graft.streaming.StreamingDedup.pairs(spark, dedupStore)
      .as[(Long, Long, Double)].collect().toSet
    val expEmb = graft.streaming.StreamingEmbed.pairs(spark, embedStore)
      .as[(Long, Long, Double)].collect().toSet
    assert(expIdx.nonEmpty && expPairs.nonEmpty && expEmb.nonEmpty)
    // everything stopped → one call compacts all three, contents unchanged;
    // a provisioned-but-never-ingested index table in the SAME call is
    // skipped (nothing to compact), not a deployment-aborting throw
    graft.streaming.StoreMaintenance.compactAll(spark,
      indexTables = Seq(("t_compact_all_never_ingested", s"$dir/idx_empty", 4),
        (idxTbl, idxPath, 4)),
      dedupStores = Seq(dedupStore), embedStores = Seq(embedStore))
    assert(spark.table(idxTbl).as[(String, Long, String)].collect().toSet === expIdx)
    assert(graft.streaming.StreamingDedup.pairs(spark, dedupStore)
      .as[(Long, Long, Double)].collect().toSet === expPairs)
    assert(graft.streaming.StreamingEmbed.pairs(spark, embedStore)
      .as[(Long, Long, Double)].collect().toSet === expEmb)
    assert(!new java.io.File(s"$dedupStore/_graft_commits").exists())
    assert(!new java.io.File(s"$embedStore/_graft_commits").exists())
  }

  test("re-sent doc_id with different text: every read collapses to ONE deterministic version") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_resend").toString
    val store = s"$dir/store"
    // all-LETTER tokens: the tokenizer strips digits, so the "wNword"
    // pool would collapse every token to one string and both "versions"
    // would share a single shingle — 30 distinct two-letter-suffix tokens
    // keep the long text's 28 trigrams genuinely distinct
    val toks = (0 until 30).map(j => s"tok${('a' + j / 6).toChar}${('a' + j % 6).toChar}")
    val longText = toks.mkString(" ")
    // batch 0: doc 1 under a SHORT text; batch 1 RE-SENDS doc 1 with a
    // longer text and introduces doc 2 = exact copy of the new version
    assert(graft.streaming.StreamingDedup.processBatch(
      Seq((1L, toks.take(4).mkString(" "))).toDF("doc_id", "text"), 0L, store))
    assert(graft.streaming.StreamingDedup.processBatch(
      Seq((1L, longText), (2L, longText)).toDF("doc_id", "text"), 1L, store))
    // the verify join must score (1,2) against ONE version of doc 1 —
    // exactly one pair row, at the deterministic winner (the larger
    // shingle set = the long text, identical to doc 2 → jaccard 1.0)
    val pairs = graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect()
    assert(pairs.count { case (a, b, _) => (a, b) == (1L, 2L) } === 1)
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 === 1.0)
    // the hashes accessor serves the same winner (one row, long version)
    val served = graft.streaming.StreamingDedup.hashes(spark, store)
      .filter($"doc_id" === 1L).select("sh").as[Seq[String]].collect()
    assert(served.length === 1)
    assert(served.head.length === 28) // 30 tokens → 28 trigrams (all distinct)
    // compaction applies the SAME collapse rules the accessors use — the
    // served version must not flip across a compact (a keyed
    // dropDuplicates would keep an arbitrary version of doc 1)
    graft.streaming.StreamingDedup.compactStore(spark, store)
    assert(graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet === pairs.toSet)
    val afterCompact = graft.streaming.StreamingDedup.hashes(spark, store)
      .filter($"doc_id" === 1L).select("sh").as[Seq[String]].collect()
    assert(afterCompact.length === 1 && afterCompact.head.length === 28)
    // both versions' sigs survive compaction (full-row distinct), so
    // either version's future near-dups still band-collide
    assert(spark.read.parquet(s"$store/sigs").filter($"doc_id" === 1L)
      .select("band", "sig").distinct().count() > 24)
  }

  test("corrective re-send DISSOLVES a pair the new version no longer supports") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dissolve").toString
    val store = s"$dir/store"
    val toksA = (0 until 30).map(j => s"tok${('a' + j / 6).toChar}${('a' + j % 6).toChar}")
    // completely disjoint token pool for the corrective version: the
    // re-verified jaccard of (1,2) is exactly 0
    val toksB = (0 until 12).map(j => s"zz${('a' + j).toChar}")
    // batch 0: docs 1 and 2 identical → pair (1,2) at jaccard 1.0
    assert(graft.streaming.StreamingDedup.processBatch(
      Seq((1L, toksA.mkString(" ")), (2L, toksA.mkString(" ")))
        .toDF("doc_id", "text"), 0L, store))
    assert(graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSeq === Seq((1L, 2L, 1.0)))
    // batch 1: CORRECTIVE re-send of doc 1 with unrelated text — the
    // stored (1,2) pair is re-verified against the new canonical version
    // and its below-threshold jaccard dissolves it at read
    assert(graft.streaming.StreamingDedup.processBatch(
      Seq((1L, toksB.mkString(" "))).toDF("doc_id", "text"), 1L, store))
    assert(graft.streaming.StreamingDedup.pairs(spark, store).isEmpty,
      "a pair verified against a superseded version must not be served forever")
    // downstream curation consequence: doc 2 is no longer clustered away
    val clusters = graft.operators.Dedup.clusters(
      graft.streaming.StreamingDedup.pairs(spark, store))
    assert(clusters.isEmpty)
    // the dissolution survives compaction (the below-threshold marker row
    // must be KEPT — a compact that dropped it would resurrect the pair)
    graft.streaming.StreamingDedup.compactStore(spark, store)
    assert(graft.streaming.StreamingDedup.pairs(spark, store).isEmpty)
    // and a SECOND corrective re-send restoring the original text
    // re-verifies the touched pair back into existence
    assert(graft.streaming.StreamingDedup.processBatch(
      Seq((1L, toksA.mkString(" "))).toDF("doc_id", "text"), 2L, store))
    assert(graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSeq === Seq((1L, 2L, 1.0)))
  }

  test("corrective re-send BELOW the shingle width still dissolves the pair") {
    // doc 1's corrective version is one token — below the 3-word shingle
    // width, so its new shingle set is EMPTY. The empty version must
    // still supersede (latest-wins) and re-verify the stored pair to
    // jaccard 0: deriving the re-sent ids from the size>0-filtered frame
    // would make exactly these re-sends invisible (the r10 review catch)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dissolve_short").toString
    val store = s"$dir/store"
    val toks = (0 until 30).map(j => s"tok${('a' + j / 6).toChar}${('a' + j % 6).toChar}")
    assert(graft.streaming.StreamingDedup.processBatch(
      Seq((1L, toks.mkString(" ")), (2L, toks.mkString(" ")), (3L, toks.mkString(" ")))
        .toDF("doc_id", "text"), 0L, store))
    assert(graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet ===
      Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0)))
    // doc 1 re-sent below the width: its two pairs dissolve (empty vs
    // non-empty jaccard 0), the untouched (2,3) pair survives
    assert(graft.streaming.StreamingDedup.processBatch(
      Seq((1L, "short")).toDF("doc_id", "text"), 1L, store))
    assert(graft.streaming.StreamingDedup.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet === Set((2L, 3L, 1.0)),
      "a re-send below the shingle width must dissolve exactly that doc's pairs")
    // BOTH remaining endpoints re-sent short in one batch: the
    // re-verified jaccard is 0/0 — it must record as a 0-valued
    // dissolution row (coalesce in verifyJaccard), not drop out of the
    // join and leave the 1.0 row serving
    assert(graft.streaming.StreamingDedup.processBatch(
      Seq((2L, "tiny"), (3L, "wee")).toDF("doc_id", "text"), 2L, store))
    assert(graft.streaming.StreamingDedup.pairs(spark, store).isEmpty,
      "a 0/0 re-verification must still record a dissolution marker")
  }

  test("streamedClusters memo: serves cached on an unchanged store, recomputes on change") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cmemo").toString
    val store = s"$dir/store"
    val toks = (0 until 30).map(j => s"tok${('a' + j / 6).toChar}${('a' + j % 6).toChar}")
    assert(graft.streaming.StreamingDedup.processBatch(
      Seq((1L, toks.mkString(" ")), (2L, toks.mkString(" ")))
        .toDF("doc_id", "text"), 0L, store))
    val c1 = graft.queries.DedupQueries.DedupStore.streamedClusters(spark, store)
    assert(c1.as[(Long, Long)].collect().toSet === Set((1L, 1L), (2L, 1L)))
    // unchanged store → the SAME persisted frame instance (cache hit)
    assert(graft.queries.DedupQueries.DedupStore.streamedClusters(spark, store) eq c1)
    // a corrective re-send dissolving the pair changes the version
    // witness → the memo recomputes and the snapshot cut sees it
    val other = (0 until 12).map(j => s"zz${('a' + j).toChar}")
    assert(graft.streaming.StreamingDedup.processBatch(
      Seq((1L, other.mkString(" "))).toDF("doc_id", "text"), 1L, store))
    assert(graft.queries.DedupQueries.DedupStore.streamedClusters(spark, store).isEmpty)
    // the superseded frame is released, not left pinned in storage
    assert(c1.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("compact guard: a PENDING sink startup already refuses compaction") {
    // the registration bracket closes the former start()-to-register
    // window: the token is registered BEFORE .start() runs, so a compact
    // racing stream startup is refused rather than racing the appends
    val dir = java.nio.file.Files.createTempDirectory("graft_pending").toString
    val store = s"$dir/store"
    val conf = spark.sparkContext.hadoopConfiguration
    val token = graft.streaming.StoreMaintenance.beginIngest(conf, store)
    val e = intercept[IllegalStateException](
      graft.streaming.StreamingDedup.compactStore(spark, store))
    assert(e.getMessage.contains("STARTING"))
    // a failed .start() aborts the token and releases the guard
    graft.streaming.StoreMaintenance.abortIngest(conf, store, token)
    graft.streaming.StreamingDedup.compactStore(spark, store) // no throw (empty no-op)
  }

  test("re-sent vec_id: a superseded embedding version can never justify a pair") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_embed_resend").toString
    val store = s"$dir/store"
    // batch 0: vec 1 under a WRONG embedding (bucket "1011" at bits=4)
    assert(graft.streaming.StreamingEmbed.processBatch(
      Seq((1L, Seq(1.0, -1.0, 0.0, 0.0))).toDF("vec_id", "embedding"), 0L, store, bits = 4))
    // batch 1: corrective re-send of vec 1 (orthogonal — bucket "0111")
    // plus vec 2 parallel to the CORRECTED version
    assert(graft.streaming.StreamingEmbed.processBatch(
      Seq((1L, Seq(-1.0, 1.0, 0.0, 0.0)), (2L, Seq(-2.0, 2.0, 0.0, 0.0)))
        .toDF("vec_id", "embedding"), 1L, store, bits = 4))
    // batch 2: vec 3 parallel to the SUPERSEDED version — it bucket-
    // collides with the stale row still in vecs/ (candidate recall), but
    // verification scores the CANONICAL vec 1 (cosine −1.0 → no pair)
    assert(graft.streaming.StreamingEmbed.processBatch(
      Seq((3L, Seq(2.0, -2.0, 0.0, 0.0))).toDF("vec_id", "embedding"), 2L, store, bits = 4))
    val pairs = graft.streaming.StreamingEmbed.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs === Set((1L, 2L, 1.0))) // corrected pair only, one row, sim 1.0
    // the vectors accessor serves ONE row for vec 1 — the corrected version
    val served = graft.streaming.StreamingEmbed.vectors(spark, store)
      .filter($"vec_id" === 1L).select("v").as[Seq[Double]].collect()
    assert(served.toSeq === Seq(Seq(-1.0, 1.0, 0.0, 0.0)))
    // …and the served state survives compaction unchanged
    graft.streaming.StreamingEmbed.compactStore(spark, store)
    assert(graft.streaming.StreamingEmbed.pairs(spark, store)
      .as[(Long, Long, Double)].collect().toSet === pairs)
    assert(graft.streaming.StreamingEmbed.vectors(spark, store)
      .filter($"vec_id" === 1L).select("v").as[Seq[Double]].collect().toSeq
      === Seq(Seq(-1.0, 1.0, 0.0, 0.0)))
  }

  test("streamed curation over the accumulated store equals batch q_curate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_curate").toString
    val (store, ckpt) = (s"$dir/store", s"$dir/ckpt")
    val fixture = nearDupFixture.sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.sinkNearDup(
      input.toDF().toDF("doc_id", "text"), store, ckpt)
    try {
      fixture.grouped(fixture.length / 3 + 1).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val docsDf = fixture.toDF("doc_id", "text")
    val streamed = graft.queries.DedupQueries.curateStreamed(docsDf, store)
      .as[(Long, Double)].collect().toSet
    val batch = graft.queries.DedupQueries.curate(docsDf,
      graft.operators.Dedup.clusters(graft.operators.Dedup.nearDuplicates(docsDf)))
      .as[(Long, Double)].collect().toSet
    assert(batch.nonEmpty) // the fixture passes the quality gate
    assert(streamed === batch)
  }

  test("native session_window under readStream: append emits merged sessions once the watermark passes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // r16 VERDICT ask #8: the ONE engine-native r16 addition without a
    // streaming-side check. The SAME sessionWindowOf body that backs
    // q_session_window / q_session_window_streamed runs here live under
    // MemoryStream + watermark; closed sessions must equal the batch run.
    val ev = Seq(
      (ts("10:00"), 1L, 1L), (ts("10:10"), 1L, 2L), // u1 session A (merged)
      (ts("10:50"), 1L, 3L),                        // gap 40m >= 30m → session B
      (ts("10:05"), 2L, 4L))                        // u2 session
    val input = MemoryStream[(Timestamp, Long, Long)]
    val stream = input.toDF().toDF("t", "user_id", "event_id")
      .withWatermark("t", "10 minutes")
    val q = graft.queries.AnalysisQueries.sessionWindowOf(stream)
      .writeStream.format("memory").queryName("sess_win")
      .outputMode("append").start()
    try {
      input.addData(ev: _*)
      q.processAllAvailable()
      // flush: advance the watermark far past every session end
      input.addData((ts("15:00"), 9L, 99L))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess_win")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.queries.AnalysisQueries.sessionWindowOf(
        ev.toDF("t", "user_id", "event_id"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.size === 3) // two u1 sessions + one u2 session
    assert(streamed === batch) // the flush session is still open → absent
  }
}

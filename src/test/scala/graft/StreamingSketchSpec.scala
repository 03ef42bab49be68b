package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Text
import graft.operators.Sketches
import graft.streaming.StreamingSketch

/** Incremental heavy-hitter maintenance: the accumulated summary after
  * streaming a corpus batch-by-batch must satisfy the SAME Misra-Gries
  * guarantees as one batch pass over the union (mergeable-summaries
  * theorem — SketchProperties proves it at state level; this spec proves
  * the STORE path end-to-end: partial-per-batch files, tmp-rename
  * writes, replay overwrite idempotency, JSON round-trip).
  */
class StreamingSketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // hot terms "alpha"/"beta" planted across batches; tail of rarer terms
  private val batches: Seq[Seq[(Long, String)]] = Seq(
    Seq((0L, "alpha beta gamma alpha"), (1L, "alpha delta")),
    Seq((2L, "beta alpha epsilon"), (3L, "alpha beta zeta eta")),
    Seq((4L, "theta alpha beta"), (5L, "alpha iota"), (6L, "beta kappa"))
  )

  private def exactCounts(): (Map[String, Long], Long) = {
    import spark.implicits._
    val all = docsDf(batches.flatten)
      .select(explode(Text.terms(col("text"))).as("term"))
      .as[String].collect()
    (all.groupBy(identity).map { case (k, v) => k -> v.size.toLong }, all.length.toLong)
  }

  test("streamed MG store: guarantees over the union; replay cannot double-count") {
    val store = tmpDir("graft-mgsketch-") + "/store"
    val cap = 4 // small capacity so decrements actually happen
    for ((b, id) <- batches.zipWithIndex)
      assert(StreamingSketch.processBatch(docsDf(b), id.toLong, store, cap))

    val st = StreamingSketch.Mg(cap).state(spark, store)
    val (exact, n) = exactCounts()
    assert(st.n === n, "accumulated n must be the exact union length")
    val floor = n / (cap + 1L)
    // completeness: every term above the bound is present
    exact.foreach { case (t, c) =>
      if (c > floor) assert(st.counters.contains(t),
        s"hitter '$t' (count $c > floor $floor) missing from streamed summary")
    }
    // soundness: never overcount, undercount within the bound
    st.counters.foreach { case (t, w) =>
      val e = exact.getOrElse(t, 0L)
      assert(w <= e && e - w <= floor, s"'$t' weight $w outside [${e - floor}, $e]")
    }
    assert(st.counters.size <= cap)

    // REPLAY: re-processing a committed batch is skipped (marker) and the
    // accumulated state is unchanged — at-least-once can't double-count
    assert(!StreamingSketch.processBatch(docsDf(batches(1)), 1L, store, cap))
    assert(StreamingSketch.Mg(cap).state(spark, store) === st)

    // serving relation matches the state
    import spark.implicits._
    val served = StreamingSketch.heavyHitters(spark, store, cap)
      .as[(String, Long)].collect().toMap
    assert(served === st.counters)
  }

  test("streamed MG sink: end-to-end over a MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmpDir("graft-mgsketch-sink-") + "/store"
    val ckpt = tmpDir("graft-mgsketch-ckpt-")
    val input = MemoryStream[(Long, String)]
    val q = StreamingSketch.sinkHeavyHitters(
      input.toDF().toDF("doc_id", "text"), store, ckpt, capacity = 4)
    try {
      for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
      val st = StreamingSketch.Mg(4).state(spark, store)
      val (exact, n) = exactCounts()
      assert(st.n === n)
      val floor = n / 5L
      exact.foreach { case (t, c) =>
        if (c > floor) assert(st.counters.contains(t), s"'$t' missing")
      }
    } finally q.stop()
  }

  test("streamed MG sink: a fresh checkpoint over a fed store is refused, not silently skipped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmpDir("graft-mgsketch-lineage-") + "/store"
    val inA = MemoryStream[(Long, String)]
    val a = StreamingSketch.sinkHeavyHitters(
      inA.toDF().toDF("doc_id", "text"), store, tmpDir("graft-mgsketch-ckpt-a-"), capacity = 4)
    try { inA.addData(batches.head: _*); a.processAllAvailable() } finally a.stop()
    val before = StreamingSketch.Mg(4).state(spark, store)
    assert(before.n > 0)
    // sink B's batchIds restart at 0: unrefused, its batch 0 would hit
    // sink A's marker and its counts would vanish
    val inB = MemoryStream[(Long, String)]
    intercept[IllegalStateException](StreamingSketch.sinkHeavyHitters(
      inB.toDF().toDF("doc_id", "text"), store, tmpDir("graft-mgsketch-ckpt-b-"), capacity = 4))
    assert(StreamingSketch.Mg(4).state(spark, store) === before)
  }

  test("streamed CMS store: linearity — merged parts EQUAL the single-pass sketch") {
    import spark.implicits._
    val store = tmpDir("graft-cmssketch-") + "/store"
    val (depth, width) = (4, 64)
    for ((b, id) <- batches.zipWithIndex)
      assert(StreamingSketch.processBatchCms(docsDf(b), id.toLong, store, depth, width))
    val streamed = StreamingSketch.Cms(depth, width).state(spark, store)
    // single batch pass over the union — CMS is linear, arrays must be
    // IDENTICAL, not merely bound-compatible
    val agg = new Sketches.CountMinAgg(depth, width)
    val union = docsDf(batches.flatten)
      .select(explode(Text.terms(col("text"))).as("term"))
      .as[String].select(agg.toColumn.name("s")).head()
    assert(streamed.toSeq === union.toSeq)
    // replay: skipped and state unchanged
    assert(!StreamingSketch.processBatchCms(docsDf(batches(0)), 0L, store, depth, width))
    assert(StreamingSketch.Cms(depth, width).state(spark, store).toSeq === streamed.toSeq)
    // est >= exact for every union term through the streamed state
    val (exact, n) = exactCounts()
    exact.foreach { case (t, c) =>
      assert(agg.estimate(streamed, t) >= c, s"'$t' underestimated")
    }
    assert(streamed.last === n)
  }

  test("streamed GK store: merged summary honors the rank bound over the union") {
    import spark.implicits._
    val store = tmpDir("graft-gksketch-") + "/store"
    val accuracy = 100
    for ((b, id) <- batches.zipWithIndex)
      assert(StreamingSketch.processBatchGk(docsDf(b), id.toLong, store, accuracy))
    val summary = StreamingSketch.Gk(accuracy).state(spark, store)
    // exact token counts of the union stream (tokenize keeps stopwords)
    val exact = docsDf(batches.flatten)
      .select(size(Text.tokenize(col("text"))).as("n")).as[Int].collect().sorted
    assert(summary.count === exact.length.toLong)
    val n = exact.length
    for (phi <- Seq(0.5, 0.9, 0.99)) {
      val v = summary.query(phi).get
      val lt = exact.count(_ < v)
      val le = exact.count(_ <= v)
      val target = phi * n
      val tol = n.toDouble / accuracy + 1.0
      assert(lt + 1 <= target + tol && le >= target - tol,
        s"phi=$phi value=$v rank span [${lt + 1}, $le] misses target $target ± $tol")
    }
    // replay: skipped, state unchanged
    assert(!StreamingSketch.processBatchGk(docsDf(batches(2)), 2L, store, accuracy))
    val again = StreamingSketch.Gk(accuracy).state(spark, store)
    assert(again.count === summary.count)
    assert(again.sampled.map(s => (s.value, s.g, s.delta)).toSeq ===
      summary.sampled.map(s => (s.value, s.g, s.delta)).toSeq)
    // absent store reads as the empty summary
    assert(StreamingSketch.Gk().state(spark, tmpDir("graft-gkempty-") + "/nope").count === 0L)
  }

  test("compactParts: one part per family, state identical, post-compact ingest merges on top") {
    import spark.implicits._
    val store = tmpDir("graft-sketchcompact-") + "/store"
    val (cap, depth, width, acc) = (4, 4, 64, 100)
    // ingest the first two batches, then compact
    for ((b, id) <- batches.take(2).zipWithIndex) {
      StreamingSketch.processBatch(docsDf(b), id.toLong, store, cap): Unit
      StreamingSketch.processBatchCms(docsDf(b), id.toLong, store, depth, width): Unit
      StreamingSketch.processBatchGk(docsDf(b), id.toLong, store, acc): Unit
      StreamingSketch.processBatchBloom(
        docsDf(b).select(col("text").as("s")), id.toLong, store): Unit
    }
    val preMg = StreamingSketch.Mg(cap).state(spark, store)
    val preCms = StreamingSketch.Cms(depth, width).state(spark, store).toSeq
    val preBloom = StreamingSketch.Bloom.state(spark, store).toSeq
    StreamingSketch.compactParts(spark, store, cap, depth, width, acc)
    // state unchanged, and each family dir holds exactly one live file
    assert(StreamingSketch.Mg(cap).state(spark, store) === preMg)
    assert(StreamingSketch.Cms(depth, width).state(spark, store).toSeq === preCms)
    assert(StreamingSketch.Bloom.state(spark, store).toSeq === preBloom)
    def files(sub: String): Seq[String] =
      new java.io.File(s"$store/$sub").listFiles().map(_.getName).toSeq
        .filterNot(_.startsWith(".")).sorted // drop local-FS .crc sidecars
    assert(files("mg_parts") === Seq("compacted_upto_1.json"))
    assert(files("cms_parts") === Seq("compacted_upto_1.txt"))
    assert(files("gk_parts") === Seq("compacted_upto_1.txt"))
    assert(files("bloom_parts") === Seq("compacted_upto_1.b64"))
    // a crashed delete pass (stale original alongside the compacted part)
    // must be ignored by the supersede rule, not double-counted
    val stale = new java.io.File(s"$store/cms_parts/batch_0.txt")
    val zeros = StreamingSketch.Cms(depth, width).state(spark, store).length
    java.nio.file.Files.writeString(stale.toPath,
      Array.fill(zeros)("7").mkString(","))
    assert(StreamingSketch.Cms(depth, width).state(spark, store).toSeq === preCms)
    assert(stale.delete())
    // a replayed pre-compact batch is still marker-skipped
    assert(!StreamingSketch.processBatchCms(docsDf(batches(0)), 0L, store, depth, width))
    // post-compact ingest: batch 2 lands as a new part and merges on top —
    // the final CMS must equal the linear single-pass over ALL batches
    StreamingSketch.processBatchCms(docsDf(batches(2)), 2L, store, depth, width): Unit
    val agg = new Sketches.CountMinAgg(depth, width)
    val union = docsDf(batches.flatten)
      .select(explode(Text.terms(col("text"))).as("term"))
      .as[String].select(agg.toColumn.name("s")).head()
    assert(StreamingSketch.Cms(depth, width).state(spark, store).toSeq === union.toSeq)
  }

  test("append path self-compacts past the part threshold; state is the union") {
    import spark.implicits._
    val store = tmpDir("graft-autocompact-") + "/store"
    val (cap, threshold) = (4, 3)
    // 5 single-doc batches with threshold 3: batch 2's append sees 3 live
    // parts and collapses them; batches 3-4 land on top; batch 4's append
    // sees {compacted, 3, 4} = 2 live batch parts — below threshold
    val docs = batches.flatten
    for ((d, id) <- docs.take(5).zipWithIndex)
      assert(StreamingSketch.processBatch(docsDf(Seq(d)), id.toLong, store,
        cap, autoCompactAt = threshold))
    def files(): Seq[String] =
      new java.io.File(s"$store/mg_parts").listFiles().map(_.getName).toSeq
        .filterNot(_.startsWith(".")).sorted
    assert(files() === Seq("batch_3.json", "batch_4.json", "compacted_upto_2.json"),
      "the third append must have auto-compacted parts 0-2")
    // accumulated state ≡ one pass over the union of all five batches
    val st = StreamingSketch.Mg(cap).state(spark, store)
    assert(st.n === docsDf(docs.take(5))
      .select(explode(Text.terms(col("text"))).as("t")).count())
    // replay of a compacted-away batch is still marker-skipped
    assert(!StreamingSketch.processBatch(docsDf(Seq(docs.head)), 0L, store,
      cap, autoCompactAt = threshold))
  }

  test("streamed Bloom store: OR-merged parts BIT-EQUAL the single-pass filter; replay skipped") {
    import spark.implicits._
    val store = tmpDir("graft-bloomsketch-") + "/store"
    val shingleBatches = Seq(
      Seq("a b c", "c d e"), Seq("e f g"), Seq("h i j", "a b c"))
    for ((b, id) <- shingleBatches.zipWithIndex)
      assert(StreamingSketch.processBatchBloom(b.toDF("s"), id.toLong, store))
    val got = StreamingSketch.Bloom.state(spark, store)
    // bloom is pure-OR: the accumulated filter must be BIT-IDENTICAL to
    // one distributed build over the union (same fixed geometry)
    val single = shingleBatches.flatten.toDF("s").stat.bloomFilter(
      "s", StreamingSketch.BloomItemCapacity, StreamingSketch.BloomFpp)
    assert(java.util.Arrays.equals(got, graft.plans.BloomContains.serialize(single)),
      "streamed OR-merge diverged from the single-pass filter")
    // replay of a committed batch is marker-skipped and changes nothing
    assert(!StreamingSketch.processBatchBloom(shingleBatches(1).toDF("s"), 1L, store))
    assert(java.util.Arrays.equals(StreamingSketch.Bloom.state(spark, store), got))
    // every ingested shingle probes true through the codegen'd expression
    val probed = shingleBatches.flatten.toDF("s").repartition(2)
      .filter(graft.plans.BloomContains.bloomContains(got, col("s"))).count()
    assert(probed === shingleBatches.flatten.size.toLong)
    // empty/absent store: the empty filter matches nothing
    val empty = StreamingSketch.Bloom.state(spark, tmpDir("graft-bloomempty-") + "/nope")
    assert(Seq("a b c").toDF("s")
      .filter(graft.plans.BloomContains.bloomContains(empty, col("s"))).count() === 0L)
  }

  test("streamed HLL store: union-merged registers estimate within bound; replay skipped; compaction preserves") {
    import spark.implicits._
    val store = tmpDir("graft-hllsketch-") + "/store"
    val termBatches: Seq[Seq[(String, String)]] = Seq(
      (0 until 40).map(i => ("src0", s"t$i")) ++ (0 until 10).map(i => ("src1", s"u$i")),
      (20 until 60).map(i => ("src0", s"t$i")),                 // overlap 20-39
      (0 until 25).map(i => ("src1", s"u$i")) ++ Seq(("src2", "only"))
    )
    for ((b, id) <- termBatches.zipWithIndex)
      assert(StreamingSketch.processBatchHll(b.toDF("source", "term"), id.toLong, store))
    val exact = termBatches.flatten.distinct.groupBy(_._1).map { case (s, ts) => s -> ts.size }
    def estimates(): Map[String, Double] =
      StreamingSketch.hllVocabEstimates(spark, store)
        .as[(String, Double)].collect().toMap
    val est = estimates()
    assert(est.keySet === exact.keySet)
    // lgK=12 on tiny sets: HLL is exact-mode, estimates are essentially exact
    est.foreach { case (s, e) =>
      assert(math.abs(e - exact(s)) <= 0.15 * exact(s),
        s"source $s estimate $e outside bound of exact ${exact(s)}")
    }
    // replay of a committed batch is marker-skipped and changes nothing
    assert(!StreamingSketch.processBatchHll(termBatches(1).toDF("source", "term"), 1L, store))
    assert(estimates() === est)
    // compaction collapses parts; union associativity keeps estimates identical
    StreamingSketch.compactParts(spark, store)
    val files = new java.io.File(s"$store/hll_parts").listFiles().map(_.getName)
      .toSeq.filterNot(_.startsWith(".")).sorted
    assert(files === Seq("compacted_upto_2.json"), s"got $files")
    assert(estimates() === est, "compaction changed the merged registers")
    // post-compact ingest merges on top
    assert(StreamingSketch.processBatchHll(
      Seq(("src2", "another")).toDF("source", "term"), 3L, store))
    val after = estimates()
    assert(after("src2") > est("src2"))
    assert(after("src0") === est("src0"))
    // absent store reads as empty
    assert(StreamingSketch.hllVocabEstimates(spark,
      tmpDir("graft-hllempty-") + "/nope").count() === 0L)
  }

  test("bloom append path self-compacts past the part threshold; filter is the union") {
    import spark.implicits._
    val store = tmpDir("graft-bloomauto-") + "/store"
    val shingles = (0 until 5).map(i => s"sh_$i")
    for ((s, id) <- shingles.zipWithIndex)
      assert(StreamingSketch.processBatchBloom(Seq(s).toDF("s"), id.toLong, store,
        autoCompactAt = 3))
    val files = new java.io.File(s"$store/bloom_parts").listFiles().map(_.getName)
      .toSeq.filterNot(_.startsWith(".")).sorted
    assert(files === Seq("batch_3.b64", "batch_4.b64", "compacted_upto_2.b64"),
      s"the third append must have auto-compacted parts 0-2, got $files")
    val merged = StreamingSketch.Bloom.state(spark, store)
    val hits = shingles.toDF("s")
      .filter(graft.plans.BloomContains.bloomContains(merged, col("s"))).count()
    assert(hits === 5L, "a shingle ingested pre-compaction fell out of the filter")
  }

  test("compaction GCs orphan tmp files from crashed atomic writes") {
    import spark.implicits._
    val store = tmpDir("graft-tmpgc-") + "/store"
    val (cap, depth, width, acc) = (4, 4, 64, 100)
    for ((b, id) <- batches.take(2).zipWithIndex) {
      StreamingSketch.processBatch(docsDf(b), id.toLong, store, cap): Unit
      StreamingSketch.processBatchCms(docsDf(b), id.toLong, store, depth, width): Unit
      StreamingSketch.processBatchGk(docsDf(b), id.toLong, store, acc): Unit
    }
    // simulate a crash between writeText's create and rename in each family
    val orphans = Seq(s"$store/mg_parts/batch_9.json.tmp",
      s"$store/cms_parts/batch_9.txt.tmp",
      s"$store/gk_parts/compacted_upto_9.txt.tmp")
    orphans.foreach(p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), "garbage"): Unit)
    val preMg = StreamingSketch.Mg(cap).state(spark, store)
    StreamingSketch.compactParts(spark, store, cap, depth, width, acc)
    orphans.foreach(p => assert(!new java.io.File(p).exists(), s"orphan $p survived GC"))
    assert(StreamingSketch.Mg(cap).state(spark, store) === preMg)
  }

  test("state JSON round-trips, including a term named 'n' and the zero state") {
    // Text.terms is per-doc DISTINCT: two docs each containing alpha + n
    // → counts alpha=2, n=2, total 4. A term literally named "n" must
    // survive the round-trip (the parser scopes the counters object, it
    // does not filter by key name).
    val store = tmpDir("graft-mgjson-") + "/store"
    assert(StreamingSketch.processBatch(
      docsDf(Seq((0L, "alpha n"), (1L, "n alpha"))), 0L, store, 4))
    val st = StreamingSketch.Mg(4).state(spark, store)
    assert(st.counters.get("alpha") === Some(2L))
    assert(st.counters.get("n") === Some(2L), "term 'n' lost by the parser")
    assert(st.n === 4L)
    // zero state: absent store reads as zero
    val agg = new Sketches.MisraGriesAgg(4)
    val empty = StreamingSketch.Mg(4).state(spark, tmpDir("graft-mgempty-") + "/nope")
    assert(empty === agg.zero)
    // the shared escaper round-trips the adversarial cases a replace-chain
    // unescape corrupts: literal backslash followed by n/r/t, quotes,
    // control chars (terms can't contain these today — the defense must
    // still be correct for the day that contract changes)
    import graft.util.JsonText
    for (s <- Seq("x\\n", "a\"b", "t\tb", "\\\\", "z", "plain"))
      assert(JsonText.unesc(JsonText.esc(s).drop(1).dropRight(1)) === s,
        s"round-trip broke for ${s.map(_.toInt).mkString(",")}")
  }

  test("HLL part codec round-trips source names with quotes, backslashes, tabs and newlines") {
    import spark.implicits._
    val store = tmpDir("graft-hllnames-") + "/store"
    val sources = Seq("web\tnews", "a\"b", "x\\n", "two\nlines", "plain")
    assert(StreamingSketch.processBatchHll(
      sources.map(s => (s, "term")).toDF("source", "term"), 0L, store))
    val got = StreamingSketch.hllVocabEstimates(spark, store)
      .as[(String, Double)].collect().map(_._1).toSet
    assert(got === sources.toSet, "source names changed across the part file")
  }

  test("compactParts refuses while a sink over the store is active; succeeds after stop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmpDir("graft-sketchguard-") + "/store"
    val input = MemoryStream[(Long, String)]
    val q = StreamingSketch.sinkHeavyHitters(
      input.toDF().toDF("doc_id", "text"), store, tmpDir("graft-sketchguard-ckpt-"), capacity = 4)
    try {
      input.addData(batches.head: _*); q.processAllAvailable()
      intercept[IllegalStateException](StreamingSketch.compactParts(spark, store, capacity = 4))
    } finally q.stop()
    val before = StreamingSketch.Mg(4).state(spark, store)
    StreamingSketch.compactParts(spark, store, capacity = 4)
    assert(new java.io.File(s"$store/mg_parts").listFiles().map(_.getName).toSeq
      .filterNot(_.startsWith(".")) === Seq("compacted_upto_0.json"))
    assert(StreamingSketch.Mg(4).state(spark, store) === before)
  }

  /** One sketch family as the part-store contract test drives it: append
    * one batch of docs (batch, id, store, autoCompactAt), and a
    * comparable snapshot of the accumulated state.
    */
  private case class FamilyCase(name: String, dir: String, ext: String,
                                append: (Seq[(Long, String)], Long, String, Int) => Boolean,
                                snapshot: String => Any)

  private val familyCases: Seq[FamilyCase] = Seq(
    FamilyCase("MG", "mg_parts", ".json",
      (b, id, store, at) =>
        StreamingSketch.processBatch(docsDf(b), id, store, autoCompactAt = at),
      store => StreamingSketch.Mg().state(spark, store)),
    FamilyCase("CMS", "cms_parts", ".txt",
      (b, id, store, at) =>
        StreamingSketch.processBatchCms(docsDf(b), id, store, autoCompactAt = at),
      store => StreamingSketch.Cms().state(spark, store).toSeq),
    FamilyCase("GK", "gk_parts", ".txt",
      (b, id, store, at) =>
        StreamingSketch.processBatchGk(docsDf(b), id, store, autoCompactAt = at),
      store => {
        val qs = StreamingSketch.Gk().state(spark, store)
        (qs.count, qs.sampled.map(s => (s.value, s.g, s.delta)).toSeq)
      }),
    FamilyCase("Bloom", "bloom_parts", ".b64",
      (b, id, store, at) => StreamingSketch.processBatchBloom(
        docsDf(b).select(col("text").as("s")), id, store, autoCompactAt = at),
      store => StreamingSketch.Bloom.state(spark, store).toSeq),
    FamilyCase("HLL", "hll_parts", ".json",
      (b, id, store, at) => StreamingSketch.processBatchHll(
        docsDf(b).select(
          concat(lit("src"), (col("doc_id") % 2).cast("string")).as("source"),
          explode(Text.terms(col("text"))).as("term")),
        id, store, autoCompactAt = at),
      store => {
        import spark.implicits._
        StreamingSketch.hllVocabEstimates(spark, store).as[(String, Double)].collect().toMap
      }))

  for (f <- familyCases)
    test(s"${f.name} part store: replay skip, auto-compaction, compactParts, stale original, orphan tmp") {
      val store = tmpDir(s"graft-family-${f.name}-") + "/store"
      def files(): Seq[String] =
        new java.io.File(s"$store/${f.dir}").listFiles().map(_.getName).toSeq
          .filterNot(_.startsWith(".")).sorted
      // 5 single-doc batches with threshold 3: batch 2's append collapses
      // parts 0-2; batches 3-4 land on top, below the threshold
      val docs = batches.flatten.take(5)
      for ((d, id) <- docs.zipWithIndex)
        assert(f.append(Seq(d), id.toLong, store, 3))
      assert(files() === Seq(s"batch_3${f.ext}", s"batch_4${f.ext}", s"compacted_upto_2${f.ext}"),
        "the third append must have auto-compacted parts 0-2")
      val pre = f.snapshot(store)
      // replays — of a compacted-away batch and of a live one — are
      // marker-skipped and change nothing
      assert(!f.append(Seq(docs(1)), 1L, store, 3))
      assert(!f.append(Seq(docs(4)), 4L, store, 3))
      assert(f.snapshot(store) === pre)
      // orphan tmps of crashed atomic writes are GC'd by compactParts,
      // which leaves exactly one compacted part and the same state
      val orphans = Seq(s"batch_9${f.ext}.tmp", s"compacted_upto_9${f.ext}.tmp")
        .map(n => java.nio.file.Paths.get(s"$store/${f.dir}/$n"))
      orphans.foreach(p => java.nio.file.Files.writeString(p, "garbage"): Unit)
      StreamingSketch.compactParts(spark, store)
      orphans.foreach(p => assert(!java.nio.file.Files.exists(p), s"orphan $p survived GC"))
      assert(files() === Seq(s"compacted_upto_4${f.ext}"))
      assert(f.snapshot(store) === pre, "compaction changed the accumulated state")
      // a stale original left by a crashed delete pass, carrying a
      // DIFFERENT state, is superseded by the compacted part
      val other = tmpDir(s"graft-family-${f.name}-other-") + "/store"
      assert(f.append(Seq((99L, "omega sigma omega")), 0L, other, 64))
      assert(f.snapshot(other) !== pre)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$other/${f.dir}/batch_0${f.ext}"),
        java.nio.file.Paths.get(s"$store/${f.dir}/batch_0${f.ext}"))
      assert(f.snapshot(store) === pre, "a superseded batch_0 was merged")
    }
}

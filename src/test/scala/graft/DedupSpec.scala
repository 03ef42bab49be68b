package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // doc 1 and 3 are byte-identical after normalization (case + punctuation
  // stripped); doc 2 and 4 share most of their 3-gram shingles; doc 5 is
  // unrelated; doc 6 is too short to shingle.
  private lazy val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog today"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3L, "the QUICK brown fox... jumps over the lazy dog today!"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (5L, "completely different words about graph computation engines"),
    (6L, "too short")
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized-identical docs under the min doc_id") {
    val r = Dedup.exact(docs)
      .select("doc_id", "canonical_id", "is_dup")
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(1L) === ((1L, false)))
    assert(r(3L) === ((1L, true))) // dup of doc 1
    assert(r(2L) === ((2L, false)))
    assert(r(5L) === ((5L, false)))
  }

  test("shingleSets excludes docs shorter than n tokens") {
    val sh = Dedup.shingleSets(docs, 3).select("doc_id").as[Long].collect().toSet
    assert(!sh.contains(6L))
    assert(sh === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("minhash LSH finds planted near-dup pairs, verified by Jaccard") {
    val pairs = Dedup.nearDuplicates(docs, n = 3, numBands = 12, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L))) // identical after normalization → J=1.0
    assert(pairs.contains((2L, 4L))) // 7 of 9 distinct shingles shared
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("near-dup jaccard of normalized-identical docs is 1.0") {
    val j = Dedup.nearDuplicates(docs).filter($"doc_a" === 1L && $"doc_b" === 3L)
      .select("jaccard").as[Double].head()
    assert(j === 1.0)
  }

  test("sourceOverlap prunes corpus-wide boilerplate shingles (adversarial many-source)") {
    // 15 sources all share one boilerplate sentence; only s01/s02 also
    // share a discriminating one. Unpruned, the boilerplate shingle
    // alone makes EVERY pair overlap (15²-ish join expansion — the
    // quadratic-in-source-count trap); with the df-style prune the
    // boilerplate carries no signal and only the real mirror pair
    // survives, with Jaccard computed over the pruned sets.
    val sources = (1 to 15).map(i => f"s$i%02d")
    val boiler = sources.zipWithIndex.map { case (s, i) =>
      (100L + i, s, "shared boiler plate words here") }
    val unique = sources.zipWithIndex.map { case (s, i) =>
      val l = ('a' + i).toChar
      (200L + i, s, s"alpha$l beta$l gamma$l") }
    val mirror = Seq((301L, "s01", "quick brown fox jumps"),
      (302L, "s02", "quick brown fox jumps"))
    val docs = (boiler ++ unique ++ mirror).toDF("doc_id", "source", "text")

    val pruned = Dedup.sourceOverlap(docs, n = 3, maxSourcesPerShingle = 5)
      .select("source_a", "source_b", "n_shared", "jaccard")
      .as[(String, String, Long, Double)].collect().toSeq
    // only the mirror pair; 2 shared of (1 unique + 2 mirror) per side
    assert(pruned === Seq(("s01", "s02", 2L, 0.5)))

    // prune off (cap ≥ source count): boilerplate connects all 105 pairs
    val unpruned = Dedup.sourceOverlap(docs, n = 3, maxSourcesPerShingle = 15)
    assert(unpruned.count() === 105L)
  }

  test("clusters: transitive pairs collapse to min-id components") {
    import org.apache.spark.sql.functions._
    // chain 1-2-3 plus isolated pair 7-9: components {1,2,3} and {7,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("clusters: empty pair relation yields an empty cluster frame, not an NPE") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val got = Dedup.clusters(empty)
    assert(got.columns.toSeq === Seq("doc_id", "cluster_id"))
    assert(got.count() === 0)
  }

  test("clusters releases its edge cache when the pair relation fails") {
    // the pairs throw while `sym.count()` materializes the persisted edge
    // relation; the persist is a cache entry of the shared state until it
    // is unpersisted (`numCachedEntries` is `private[sql]` in Scala,
    // public in bytecode)
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cached = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    val before = cached
    val bad = spark.range(2).select(col("id").as("doc_a"),
      raise_error(lit("graft: bad pair")).cast("long").as("doc_b"))
    val e = intercept[Exception](Dedup.clusters(bad))
    assert(e.getMessage.contains("graft: bad pair"), e.getMessage)
    assert(cached === before)
  }

  test("clusters: long chain converges (pointer jumping) to one component") {
    // a 16-node path graph — diameter 15; plain propagation needs ~15
    // rounds, pointer jumping a handful — either way the answer is one
    // component labeled by the min id
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(chain).as[(Long, Long)].collect().toMap
    assert(got.keySet === (0L to 15L).toSet)
    assert(got.values.toSet === Set(0L))
  }

  test("duplicateClusters groups the planted near-dups under one canonical id") {
    val c = Dedup.duplicateClusters(docs).as[(Long, Long)].collect().toMap
    assert(c(1L) === 1L && c(3L) === 1L) // 1-3 identical pair → cluster 1
    assert(c(2L) === 2L && c(4L) === 2L)
    assert(!c.contains(5L)) // non-dup doc not in any cluster
  }

  test("bucket cap: near-dup pair set is cap-invariant on the small fixture") {
    val expected = Dedup.nearDuplicates(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // cap=2 forces every bucket of 3+ members through the join path
    val capped = Dedup.nearDuplicates(docs, maxAggBucket = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped === expected)
  }

  test("bucket cap: one degenerate mega-bucket completes with bounded buffers") {
    // 300 identical docs — every LSH band yields ONE bucket of 300
    // members. With cap=16 the collect_list path never sees it; the join
    // path expands it across tasks. All C(300,2) pairs at jaccard 1.0.
    val mega = (1 to 300).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog repeatedly")).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicates(mega, maxAggBucket = 16).cache()
    assert(pairs.count() === 300L * 299L / 2L)
    assert(pairs.filter($"jaccard" =!= 1.0).count() === 0)
    // the actionable downstream form stays linear: one cluster, min id
    val c = Dedup.clusters(pairs.select("doc_a", "doc_b"))
    assert(c.select(countDistinct($"cluster_id")).as[Long].head() === 1L)
    pairs.unpersist()
  }

  test("jaccard pairs: rare-shingle candidates find the planted near-dups") {
    val pairs = Dedup.jaccardPairs(docs)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 3L)) === 1.0) // identical after normalization
    assert(pairs.contains((2L, 4L))) // 7 of 9 distinct shingles shared
    assert(!pairs.keys.exists(p => p._1 == 5L || p._2 == 5L))
    // the documented recall trade: shingles above maxDf never generate
    // candidates — a boilerplate corpus yields NO pairs here (exact or
    // LSH dedup are the right tools for mass duplication), and the
    // aggregation buffer stays bounded by maxDf by construction
    val boiler = (1 to 50).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog repeatedly")).toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(boiler, maxDf = 10).count() === 0)
  }

  test("jaccard minSharedRare=2 vs =1: divergence is pinned per scale, never silent") {
    // q_jaccard_pairs benches with minSharedRare=2 (verify-mass cut) while
    // the library default stays 1 for recall stability. The cut's recall
    // cost is a DATA property, not an operator invariant, so this spec
    // PINS it at the scales the gates run: exact parity at sf0.001 (the
    // quick verify loop; parity also holds at the sf0.01 oracle gate), and
    // at the sf0.1 bench scale exactly ONE true pair — (2256, 4337), a
    // J>=0.5 pair sharing a single rare shingle — is dropped (1 of 237,
    // the documented price of the 11.5s -> 2.4s verify-mass cut). A corpus
    // regeneration or operator change that moves this delta in either
    // direction fails loudly here instead of silently diverging the bench
    // from the library-default result.
    val expectedDrop = Map(
      "/root/testdata/sf0.001" -> Set.empty[(Long, Long)],
      "/root/testdata/sf0.1" -> Set((2256L, 4337L)))
    for ((dir, drop) <- expectedDrop) {
      val hashes = graft.queries.DedupQueries.DedupStore.hashes(spark, dir)
      def pairSet(m: Int) = Dedup.jaccardPairsFromShingles(hashes, minSharedRare = m)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val (r1, r2) = (pairSet(1), pairSet(2))
      assert(r2.subsetOf(r1), s"=2 found pairs =1 did not at $dir: ${(r2 -- r1).take(5)}")
      assert(r1 -- r2 === drop, s"minSharedRare recall delta moved at $dir")
    }
  }

  test("bucket cap: simhash pair set is cap-invariant") {
    val expected = Dedup.simhashPairs(docs)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val capped = Dedup.simhashPairs(docs, maxAggBucket = 2)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(capped === expected)
  }

  test("native simhash_hex is bit-identical to the aggregation form on the corpus") {
    val corpus = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
    val native = Dedup.simhash(corpus).as[(Long, String)].collect().toSet
    val viaAgg = Dedup.simhashViaAgg(corpus).as[(Long, String)].collect().toSet
    assert(native === viaAgg)
    assert(native.nonEmpty)
  }

  test("configured checkpoint dir switches dedup to reliable checkpoints") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      // exercises materializeOnce's durable branch (df.checkpoint) on the
      // cluster-deployment path — executor loss recomputes from the
      // checkpoint instead of killing the job (localCheckpoint blocks
      // are unreplicated)
      val pairs = Dedup.nearDuplicates(docs)
      assert(pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
        .contains((1L, 3L)))
      val landed = new java.io.File(dir).listFiles
      assert(landed != null && landed.nonEmpty, "no reliable checkpoint written")
      // the checkpoint files are recorded garbage once the relations are
      // done: an explicit release deletes this context's checkpoint
      // subdir (the UUID dir setCheckpointDir minted under `dir`), so
      // repeated cluster invocations don't leak checkpoint storage
      val ctxDir = new java.io.File(new java.net.URI(sc.getCheckpointDir.get).getPath)
      assert(ctxDir.exists())
      Dedup.releaseCheckpoints(spark)
      assert(!ctxDir.exists(), "release left the context checkpoint dir behind")
    } finally sc.setCheckpointDir(null) // Option(null) unsets — back to localCheckpoint
  }

  test("simhash: identical docs share fingerprints, near docs are close") {
    val fp = Dedup.simhash(docs).as[(Long, String)].collect().toMap
    assert(fp(1L).length === 16)
    assert(fp(1L) === fp(3L)) // identical term sets → identical simhash
    def bits(h: String): Seq[Int] =
      h.flatMap(c => (3 to 0 by -1).map(k => (Integer.parseInt(c.toString, 16) >> k) & 1))
    def hamming(a: String, b: String): Int =
      bits(a).zip(bits(b)).count(p => p._1 != p._2)
    // 9-of-10 shared terms → small hamming distance vs an unrelated doc
    assert(hamming(fp(2L), fp(4L)) < hamming(fp(2L), fp(5L)))
  }

  test("hammingPairs: distance-sized banding keeps exact recall at every supported distance") {
    // fingerprints with controlled pairwise distances, verified against
    // a plain-Scala popcount oracle — recall must be exact for every
    // maxDistance, including the coarser 2-chunk (d=1) and 1-chunk
    // (d=0) bandings whose selectivity the operator picks them for
    val fps = Seq(
      1L -> "0000000000000000",
      2L -> "0000000000000001", // 1 bit from #1
      3L -> "8000000000000003", // 3 bits from #1 (both chunks-of-2 differ)
      4L -> "00010000000f0000", // 5 bits from #1, spread across chunks
      5L -> "ffffffffffffffff")
    val df = fps.toDF("doc_id", "h")
    def dist(a: String, b: String): Int = java.lang.Long.bitCount(
      java.lang.Long.parseUnsignedLong(a, 16) ^ java.lang.Long.parseUnsignedLong(b, 16))
    for (d <- 0 to 3) {
      val expected = (for {
        (ia, ha) <- fps; (ib, hb) <- fps
        if ia < ib && dist(ha, hb) <= d
      } yield (ia, ib, dist(ha, hb))).toSet
      val got = Dedup.hammingPairs(df, "h", maxDistance = d)
        .as[(Long, Long, Int)].collect().toSet
      assert(got === expected, s"maxDistance=$d")
    }
    intercept[IllegalArgumentException](Dedup.hammingPairs(df, "h", maxDistance = 4))
  }

  test("decontaminate: flags docs sharing any n-gram with the benchmark, counts distinct overlaps") {
    import spark.implicits._
    // bench trigrams: {alpha beta gamma, beta gamma delta}
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "zz alpha beta gamma yy"),        // shares 1 bench trigram
      (2L, "alpha beta gamma delta qq"),     // shares both
      (3L, "foo bar baz qux"),               // clean
      // the shared trigram occurs TWICE in the doc: the per-doc distinct
      // shingle invariant must keep the overlap count at 1, not 2
      (4L, "alpha beta gamma alpha beta gamma")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.decontaminate(train, bench)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 4L -> 1L)) // doc 3 absent: not contaminated
  }

  test("containment finds a planted subset pair that the Jaccard threshold misses") {
    // doc 2 embeds doc 1's text inside much more material: every shingle
    // of doc 1 appears in doc 2 (containment 1.0) but jaccard is
    // |A|/|B| ≈ 0.26 — below any near-dup threshold
    val small = "quick silver foxes vault over sleeping hounds tonight"
    val train = Seq(
      (1L, small),
      (2L, s"opening words establish context then $small and closing words " +
        "wander far away into entirely unrelated territory for several more phrases"),
      (3L, "completely different content about engines and computation")
    ).toDF("doc_id", "text")
    val sh = graft.operators.Dedup.shingleSets(train, 3)
    val cont = graft.operators.Dedup.containmentPairsFromShingles(sh)
      .as[(Long, Long, Double, Double)].collect()
    assert(cont.length === 1)
    val (a, b, ca, cb) = cont.head
    assert((a, b) === ((1L, 2L)))
    assert(ca === 1.0, s"doc 1 fully covered, got $ca")
    assert(cb < 0.8, s"doc 2 only partially covered, got $cb")
    // the same pair fails the Jaccard pipeline at its 0.5 threshold
    val jac = graft.operators.Dedup.jaccardPairsFromShingles(sh, minSharedRare = 2)
      .as[(Long, Long, Double)].collect()
    assert(!jac.exists(p => p._1 == 1L && p._2 == 2L),
      "jaccard should miss the asymmetric pair containment exists to catch")
  }

  test("bloom_contains probe matches the build side's string encoding, non-ASCII included") {
    // build with putString (what df.stat.bloomFilter does for strings),
    // probe with the codegen'd mightContainBinary over UTF-8 bytes — the
    // two must agree byte-for-byte or membership silently breaks on
    // multi-byte text
    val bf = org.apache.spark.util.sketch.BloomFilter.create(64, 0.01)
    val in = Seq("plain ascii", "naïve café", "日本語のテキスト", "mixed ascii + 中文")
    in.foreach(bf.putString)
    val bytes = graft.plans.BloomContains.serialize(bf)
    val probe = (in ++ Seq("absent one", "çafé naïve", "日本語")).toDF("s")
      .repartition(2) // real execution path, not a folded local relation
      .select(col("s"), graft.plans.BloomContains.bloomContains(bytes, col("s")).as("hit"))
      .as[(String, Boolean)].collect().toMap
    in.foreach(s => assert(probe(s), s"inserted string not found: $s"))
    probe.foreach { case (s, hit) =>
      assert(hit === bf.mightContainString(s), s"probe/build disagree on: $s")
    }
  }

  test("decontaminateBloom: no false negatives on the synthetic corpus, exact ⊆ flagged") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "zz alpha beta gamma yy"),
      (2L, "alpha beta gamma delta qq"),
      (3L, "foo bar baz qux"),
      (4L, "one more clean document here")
    ).toDF("doc_id", "text")
    val exact = graft.operators.Dedup.decontaminate(train, bench)
      .select("doc_id").as[Long].collect().toSet
    val flagged = graft.operators.Dedup.decontaminateBloom(
        graft.operators.Dedup.shingleSets(train, 3),
        graft.operators.Dedup.shingleSets(bench, 3))
      .select("doc_id").as[Long].collect().toSet
    assert(exact.subsetOf(flagged), s"false negatives: ${exact -- flagged}")
    assert(exact === Set(1L, 2L))
  }

  test("q_bloom_decontaminate guarantees hold with >=2x headroom on the real corpus") {
    // the checked-projection protocol: the oracle pins the booleans as
    // literals, so this spec must pin the HEADROOM — if corpus drift or
    // an fpp change pushes the measured doc-level false-positive count
    // past HALF the query's bound (5% of corpus docs + 10), this test
    // names the violated assumption before the hash gate flips
    val dir = "/root/testdata/sf0.001"
    val sh = graft.queries.DedupQueries.DedupStore.hashes(spark, dir)
      .select(col("doc_id"), col("sh"))
    val corpusSh = sh.filter(!graft.queries.DedupQueries.evalDocPred)
    val benchSh = sh.filter(graft.queries.DedupQueries.evalDocPred)
    val exact = graft.operators.Dedup.decontaminateFromShingles(corpusSh, benchSh)
      .select("doc_id").as[Long].collect().toSet
    val flagged = graft.operators.Dedup.decontaminateBloom(corpusSh, benchSh)
      .select("doc_id").as[Long].collect().toSet
    assert(exact.subsetOf(flagged), s"false negatives: ${exact -- flagged}")
    val nDocs = corpusSh.count()
    val fp = (flagged -- exact).size
    val bound = nDocs * 0.05 + 10
    assert(fp <= bound / 2,
      s"fp headroom lost: $fp false-positive docs vs bound $bound over $nDocs docs")
  }

  test("q_decontaminate eval slice: capped at 64 docs, ids past the cap are training data") {
    import spark.implicits._
    val cap = graft.queries.DedupQueries.EvalDocCap.toLong
    // no test corpus reaches the cap (max doc_id 4999 at every sf), so the
    // cap's behavior change is pinned HERE with synthetic ids: multiples
    // of 97 beyond the cap must land on the TRAINING side
    val ids = Seq(0L, 97L, 5L, cap, cap + 97L * 6).toDF("doc_id")
    val eval = ids.filter(graft.queries.DedupQueries.evalDocPred)
      .as[Long].collect().toSet
    assert(eval === Set(0L, 97L), "only sub-cap multiples of 97 are eval docs")
  }

  test("clipPairs: 3-of-4 aligned-frame majority, per-frame distance tolerance") {
    import spark.implicits._
    val h0 = "0123456789abcdef"
    val h1bit = "0123456789abcdee" // 1 bit off h0 — inside the distance
    val far = "5555555555555555"
    val fp = Seq(
      (1L, 0L, h0), (1L, 1L, h0), (1L, 2L, h0), (1L, 3L, "ffffffffffffffff"),
      (2L, 0L, h0), (2L, 1L, h1bit), (2L, 2L, h0), (2L, 3L, "0000000000000000"),
      (3L, 0L, far), (3L, 1L, far), (3L, 2L, far), (3L, 3L, far))
      .toDF("clip_id", "frame", "dhash")
    // clips 1,2 match on frames 0 (exact), 1 (1 bit), 2 (exact) and
    // diverge on frame 3 (64 bits) → 3-of-4 majority passes; clip 3
    // never collides on any frame chunk → not even a candidate
    val got = graft.operators.Dedup.clipPairs(fp, "dhash",
      maxDistance = 3, minMatchedFrames = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 3L)))
    // a stricter 4-of-4 vote drops the pair (frame 3 is the edit)
    assert(graft.operators.Dedup.clipPairs(fp, "dhash",
      maxDistance = 3, minMatchedFrames = 4).count() === 0)
    // cap-invariance: routing every bucket through the equi-join path
    // (cap = 2) yields the identical pair set
    assert(graft.operators.Dedup.clipPairs(fp, "dhash",
      maxDistance = 3, minMatchedFrames = 3, maxAggBucket = 2)
      .as[(Long, Long, Long)].collect().toSeq === Seq((1L, 2L, 3L)))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph
import graft.streaming.StreamingGraph

class GraphStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // a weighted digraph over 6 nodes, as raw per-fact contributions so
  // batching slices genuinely overlap on (src, dst) keys
  private lazy val facts = (0L until 60L)
    .map(i => (i % 6, (i * 7 + 1) % 6, 1L + i % 3))
    .toDF("src", "dst", "w")
  private lazy val nodes = (0L until 6L).toDF("node")
  private lazy val batchEdges =
    facts.groupBy("src", "dst").agg(sum("w").as("w"))

  private def freshStore(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_graph_$tag").toString

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("src", "dst", "w").as[(Long, Long, Long)].collect().toSet

  test("accumulated delta store equals the batch edge relation") {
    val store = freshStore("accum")
    for (b <- 0 until 3)
      assert(StreamingGraph.processBatch(
        facts.filter(col("src") % 3 === b), b, store))
    assert(edgeSet(StreamingGraph.edges(spark, store)) === edgeSet(batchEdges))
  }

  test("a replayed batchId is skipped — edges unchanged") {
    val store = freshStore("replay")
    assert(StreamingGraph.processBatch(facts, 0L, store))
    val before = edgeSet(StreamingGraph.edges(spark, store))
    assert(!StreamingGraph.processBatch(facts, 0L, store)) // replay
    assert(edgeSet(StreamingGraph.edges(spark, store)) === before)
  }

  test("version-keyed ranks equal the batch fixpoint on replay") {
    val store = freshStore("ranks")
    for (b <- 0 until 3)
      StreamingGraph.processBatch(facts.filter(col("src") % 3 === b), b, store)
    val streamed = StreamingGraph.ranks(spark, store, nodes, iters = 5)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val batch = Graph.pageRank(batchEdges, nodes, iters = 5)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(streamed === batch)
  }

  test("an append moves the store version and the rank store rebuilds") {
    val store = freshStore("ver")
    StreamingGraph.processBatch(facts.limit(30), 0L, store)
    val v0 = StreamingGraph.storeVersion(spark, store)
    val r0 = StreamingGraph.ranks(spark, store, nodes, iters = 3)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    // unchanged store: same version, same served fixpoint
    assert(StreamingGraph.storeVersion(spark, store) === v0)
    assert(StreamingGraph.ranks(spark, store, nodes, iters = 3)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq === r0)
    // append: version moves, ranks now reflect the full edge set
    StreamingGraph.processBatch(facts, 1L, store)
    assert(StreamingGraph.storeVersion(spark, store) !== v0)
    val r1 = StreamingGraph.ranks(spark, store, nodes, iters = 3)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val expect = Graph.pageRank(
      facts.limit(30).unionByName(facts).groupBy("src", "dst").agg(sum("w").as("w")),
      nodes, iters = 3).as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(r1 === expect)
  }

  test("residual-window replay supersedes, never double-counts deltas") {
    // crash AFTER the append but BEFORE the marker (simulated by
    // deleting the marker): the re-run must REPLACE the crashed
    // append's contribution — additive deltas cannot be deduped by
    // key, so a naive re-append would double every weight
    val store = freshStore("residual")
    assert(StreamingGraph.processBatch(facts, 0L, store))
    val committed = edgeSet(StreamingGraph.edges(spark, store))
    val marker = new java.io.File(s"$store/_graft_commits/default/0")
    assert(marker.exists && marker.delete())
    assert(StreamingGraph.processBatch(facts, 0L, store)) // replay re-runs
    assert(edgeSet(StreamingGraph.edges(spark, store)) === committed)
    // and the superseded rows are physically dropped by compaction
    StreamingGraph.compactStore(spark, store)
    assert(edgeSet(StreamingGraph.edges(spark, store)) === committed)
  }

  test("a residual-window batch replayed AFTER compaction is skipped by the high-water mark") {
    // append committed, marker write crashed, THEN the operator
    // compacted: the original rows now live under synthetic batch -1
    // where latest-stamp supersede can no longer catch the replay —
    // the persisted max-absorbed-batch mark must skip it outright
    val store = freshStore("hwm")
    for (b <- 0 until 2)
      assert(StreamingGraph.processBatch(facts.filter(col("src") % 2 === b), b, store))
    val committed = edgeSet(StreamingGraph.edges(spark, store))
    val marker = new java.io.File(s"$store/_graft_commits/default/1")
    assert(marker.exists && marker.delete()) // crash window: rows in, marker gone
    StreamingGraph.compactStore(spark, store)
    assert(!StreamingGraph.processBatch(facts.filter(col("src") % 2 === 1), 1L, store))
    assert(edgeSet(StreamingGraph.edges(spark, store)) === committed)
  }

  test("a checkpoint-commit-window batch replayed after compaction is skipped too") {
    // marker written, but the STREAM's own checkpoint commit crashed:
    // restart replays the batchId, and compaction deleted the marker —
    // only the high-water mark stands between the replay and a double
    val store = freshStore("ckptwin")
    assert(StreamingGraph.processBatch(facts, 0L, store))
    val committed = edgeSet(StreamingGraph.edges(spark, store))
    StreamingGraph.compactStore(spark, store) // deletes markers, records hwm=0
    assert(!StreamingGraph.processBatch(facts, 0L, store))
    assert(edgeSet(StreamingGraph.edges(spark, store)) === committed)
    // genuinely NEW batches above the mark still land
    assert(StreamingGraph.processBatch(facts.limit(6), 1L, store))
  }

  test("retractions: a key whose deltas net to zero leaves the served edge set") {
    val store = freshStore("retract")
    assert(StreamingGraph.processBatch(
      Seq((1L, 2L, 5L), (3L, 4L, 2L)).toDF("src", "dst", "w"), 0L, store))
    assert(StreamingGraph.processBatch(
      Seq((1L, 2L, -5L)).toDF("src", "dst", "w"), 1L, store)) // full retraction
    assert(edgeSet(StreamingGraph.edges(spark, store)) === Set((3L, 4L, 2L)))
    StreamingGraph.compactStore(spark, store) // zero-sum key physically dropped
    assert(edgeSet(StreamingGraph.edges(spark, store)) === Set((3L, 4L, 2L)))
  }

  test("string-keyed store: accumulation, residual supersede, and post-compact hwm skip") {
    import org.apache.spark.sql.types.StringType
    // term-keyed edge deltas (the q_textrank_streamed shape)
    val sfacts = (0L until 60L)
      .map(i => (s"t${i % 6}", s"t${(i * 7 + 1) % 6}", 1L + i % 3))
      .toDF("src", "dst", "w")
    val sBatch = sfacts.groupBy("src", "dst").agg(sum("w").as("w"))
      .as[(String, String, Long)].collect().toSet
    val store = freshStore("strkey")
    for (b <- 0 until 3)
      assert(StreamingGraph.processBatch(
        sfacts.filter(col("w") % 3 === b), b, store,
        keyType = StringType))
    def served: Set[(String, String, Long)] =
      StreamingGraph.edges(spark, store, StringType)
        .as[(String, String, Long)].collect().toSet
    assert(served === sBatch)
    // residual window: marker deleted, replay supersedes (string keys)
    val marker = new java.io.File(s"$store/_graft_commits/default/2")
    assert(marker.exists && marker.delete())
    assert(StreamingGraph.processBatch(
      sfacts.filter(col("w") % 3 === 2), 2L, store, keyType = StringType))
    assert(served === sBatch)
    // compaction records the hwm; a post-compact replay is skipped
    StreamingGraph.compactStore(spark, store, StringType)
    assert(served === sBatch)
    assert(!StreamingGraph.processBatch(
      sfacts.filter(col("w") % 3 === 2), 2L, store, keyType = StringType))
    assert(served === sBatch)
    // and the derived memo serves a fixpoint over string nodes
    val nodes = (0 until 6).map(i => s"t$i").toDF("node")
    val streamed = StreamingGraph.derived(spark, store, "pr_test", StringType) { e =>
      graft.operators.Graph.pageRank(e, nodes, iters = 4)
    }.as[(String, Double)].collect().sortBy(_._1).toSeq
    val batch = graft.operators.Graph.pageRank(
      sfacts.groupBy("src", "dst").agg(sum("w").as("w")), nodes, iters = 4)
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    assert(streamed === batch)
  }

  test("sinkEdges end-to-end: MemoryStream delta batches accumulate the batch edges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_graph_sink").toString
    val input = MemoryStream[(Long, Long, Long)]
    val q = StreamingGraph.sinkEdges(
      input.toDF().toDF("src", "dst", "w"), s"$dir/store", s"$dir/ckpt")
    try {
      (0 until 3).foreach { b =>
        input.addData(facts.filter(col("src") % 3 === b)
          .as[(Long, Long, Long)].collect().toSeq)
        q.processAllAvailable()
      }
      assert(edgeSet(StreamingGraph.edges(spark, s"$dir/store")) === edgeSet(batchEdges))
    } finally q.stop()
  }

  test("post-compact ingest from a FRESH scope is not dropped by the high-water mark") {
    // the r15 ADVICE hole: batchIds are per checkpoint, so a stream
    // restarted post-compact with a NEW checkpoint dir (new scope)
    // restarts at batch 0 — a scope-blind mark would silently drop it
    val store = freshStore("freshscope")
    for (b <- 0 until 2)
      assert(StreamingGraph.processBatch(
        facts.filter(col("src") % 2 === b), b, store, scope = "ckpt1"))
    StreamingGraph.compactStore(spark, store) // records ckpt1's hwm = 1
    // same scope, replayed batch: skipped by its own mark
    assert(!StreamingGraph.processBatch(facts, 1L, store, scope = "ckpt1"))
    // NEW scope, batch 0, genuinely new facts: must land
    val extra = Seq((0L, 5L, 9L)).toDF("src", "dst", "w")
    assert(StreamingGraph.processBatch(extra, 0L, store, scope = "ckpt2"))
    val expect = edgeSet(facts.unionByName(extra)
      .groupBy("src", "dst").agg(sum("w").as("w")))
    assert(edgeSet(StreamingGraph.edges(spark, store)) === expect)
  }

  test("colliding batchIds from two scopes both survive latest-wins") {
    // two checkpoints both carry a batch 0; the latest-per-batch
    // supersede rule must key on (scope, batch) or the newer scope's
    // append silently replaces the older scope's rows
    val store = freshStore("scopecollide")
    val a = Seq((1L, 2L, 3L)).toDF("src", "dst", "w")
    val b = Seq((4L, 5L, 7L)).toDF("src", "dst", "w")
    assert(StreamingGraph.processBatch(a, 0L, store, scope = "ckptA"))
    assert(StreamingGraph.processBatch(b, 0L, store, scope = "ckptB"))
    assert(edgeSet(StreamingGraph.edges(spark, store)) ===
      Set((1L, 2L, 3L), (4L, 5L, 7L)))
    // and per-scope hwm marks survive a compact independently
    StreamingGraph.compactStore(spark, store)
    assert(!StreamingGraph.processBatch(a, 0L, store, scope = "ckptA"))
    assert(!StreamingGraph.processBatch(b, 0L, store, scope = "ckptB"))
    assert(StreamingGraph.processBatch(a, 1L, store, scope = "ckptA"))
  }

  test("the key type is store state: accessors resolve the sidecar, not the caller's default") {
    import org.apache.spark.sql.types.StringType
    val store = freshStore("sidecar")
    val sfacts = Seq(("a", "b", 2L), ("b", "c", 3L)).toDF("src", "dst", "w")
    assert(StreamingGraph.processBatch(sfacts, 0L, store, keyType = StringType))
    // no keyType passed anywhere below — the persisted sidecar must win
    // over the LongType defaults (the r15 ADVICE corruption scenario)
    assert(StreamingGraph.edges(spark, store)
      .as[(String, String, Long)].collect().toSet === Set(("a", "b", 2L), ("b", "c", 3L)))
    StreamingGraph.compactStore(spark, store)
    assert(StreamingGraph.edges(spark, store)
      .as[(String, String, Long)].collect().toSet === Set(("a", "b", 2L), ("b", "c", 3L)))
    // a later default-typed ingest cast is corrected by the sidecar too
    assert(StreamingGraph.processBatch(Seq(("c", "d", 1L)).toDF("src", "dst", "w"),
      1L, store))
    assert(StreamingGraph.edges(spark, store)
      .as[(String, String, Long)].collect().toSet ===
      Set(("a", "b", 2L), ("b", "c", 3L), ("c", "d", 1L)))
  }

  test("compaction preserves served edges and the rebuilt fixpoint") {
    val store = freshStore("compact")
    for (b <- 0 until 3)
      StreamingGraph.processBatch(facts.filter(col("src") % 3 === b), b, store)
    val before = edgeSet(StreamingGraph.edges(spark, store))
    val ranksBefore = StreamingGraph.ranks(spark, store, nodes, iters = 3)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    StreamingGraph.compactStore(spark, store)
    assert(edgeSet(StreamingGraph.edges(spark, store)) === before)
    // version moved (row count collapsed) → rebuild, to the same fixpoint
    assert(StreamingGraph.ranks(spark, store, nodes, iters = 3)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq === ranksBefore)
  }
}

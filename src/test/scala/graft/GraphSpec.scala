package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("pagerank on a symmetric 2-cycle converges to uniform") {
    val edges = Seq((0L, 1L, 1L), (1L, 0L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(0L, 1L).toDF("node")
    val pr = Graph.pageRank(edges, nodes, iters = 8)
      .as[(Long, Double)].collect().toMap
    assert(pr(0L) === 0.5)
    assert(pr(1L) === 0.5)
  }

  test("pagerank weights split proportionally and respect damping") {
    // 0 -> 1 (w=3), 0 -> 2 (w=1); 1,2 -> 0. One iteration from uniform:
    // node1 inflow = (1/3)*(3/4); node2 inflow = (1/3)*(1/4)
    val edges = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
      .toDF("src", "dst", "w")
    val nodes = Seq(0L, 1L, 2L).toDF("node")
    val base = 0.15 / 3
    val third = 1.0 / 3
    val pr1 = Graph.pageRank(edges, nodes, iters = 1)
      .as[(Long, Double)].collect().toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(pr1(1L) === r6(base + 0.85 * (third * 3 / 4)))
    assert(pr1(2L) === r6(base + 0.85 * (third * 1 / 4)))
    assert(pr1(0L) === r6(base + 0.85 * (third + third)))
  }

  test("dangling nodes leak mass (documented simple formulation)") {
    // 0 -> 1, 1 has no out-edges: total mass shrinks below 1
    val edges = Seq((0L, 1L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(0L, 1L).toDF("node")
    val pr = Graph.pageRank(edges, nodes, iters = 8)
      .as[(Long, Double)].collect().toMap
    assert(pr.values.sum < 1.0)
    assert(pr(1L) > pr(0L)) // 1 receives, 0 only emits
  }

  test("empty node set is rejected, not Infinity ranks") {
    val e = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val n = Seq.empty[Long].toDF("node")
    assertThrows[IllegalArgumentException](Graph.pageRank(e, n, iters = 1))
  }

  test("shortestPaths: weighted min-relaxation equals plain-Scala Bellman-Ford") {
    // a graph where the cheapest path is NOT the fewest-hops path:
    // 0→3 direct costs 10, 0→1→2→3 costs 3
    val edgeList = Seq((0L, 3L, 10L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L),
      (3L, 4L, 2L), (4L, 0L, 1L), (1L, 3L, 5L))
    val nodes = (0L to 5L).toDF("node") // node 5 unreachable
    val maxRounds = 4
    def ref: Map[Long, Long] = {
      var d = Map(0L -> 0L)
      for (_ <- 1 to maxRounds)
        d = (d.toSeq ++ edgeList.collect {
          case (s, t, w) if d.contains(s) => t -> (d(s) + w)
        }).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
      d
    }
    val got = graft.operators.Graph.shortestPaths(
        edgeList.toDF("src", "dst", "w"), nodes, org.apache.spark.sql.functions.lit(0L), maxRounds)
      .as[(Long, Long)].collect().toMap
    assert(got === ref)
    assert(got(3L) === 3L) // min-weight, not min-hops
    assert(!got.contains(5L)) // unreachable absent
    // gated run equals the hinted one
    assert(graft.operators.Graph.shortestPaths(
        edgeList.toDF("src", "dst", "w"), nodes, org.apache.spark.sql.functions.lit(0L), maxRounds,
        broadcastRanksMax = 0)
      .as[(Long, Long)].collect().toMap === ref)
  }

  test("past the broadcast gate the rank join is NOT a forced broadcast") {
    // the docstring's "stats/AQE fall back to a src-keyed shuffle" can
    // only happen if no explicit hint survives — an explicit broadcast()
    // is honored regardless of size, so at web-scale node counts it
    // would force a node-sized relation through the driver. Gate the
    // hint off (broadcastRanksMax = 0) and pin that no
    // ResolvedHint/broadcast remains in the optimized plan; with AQE
    // free to choose, a genuinely huge ranks side then shuffles.
    val edges = (0L until 200L).map(i => (i % 50, (i * 7) % 50, 1L))
      .toDF("src", "dst", "w")
    val nodes = (0L until 50L).toDF("node")
    val pr = Graph.pageRank(edges, nodes, iters = 1, broadcastRanksMax = 0)
    assert(!pr.queryExecution.optimizedPlan.toString.contains("broadcast"))
    // and the gated run computes the same fixpoint as the hinted one
    val hinted = Graph.pageRank(edges, nodes, iters = 1)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(pr.as[(Long, Double)].collect().sortBy(_._1).toSeq === hinted)
  }

  test("high-iteration runs stay analyzable via periodic checkpoints") {
    // 30 unrolled join-agg iterations without a lineage cut would grow
    // the plan (and its analysis time) superlinearly; the every-10
    // materialization bounds it. The assertion is the wall-clock of
    // PLANNING+execution staying sane and the fixpoint being finite.
    val edges = (0L until 100L).map(i => (i % 20, (i * 3) % 20, 1L + i % 3))
      .toDF("src", "dst", "w")
    val nodes = (0L until 20L).toDF("node")
    val t0 = System.nanoTime()
    val pr = Graph.pageRank(edges, nodes, iters = 30)
      .as[(Long, Double)].collect().toMap
    val sec = (System.nanoTime() - t0) / 1e9
    assert(pr.size === 20 && pr.values.forall(v => v > 0 && v < 1))
    assert(sec < 120.0, s"30-iteration pagerank took $sec s")
  }

  test("shortestPaths releases its edge cache when a round fails") {
    // under ANSI arithmetic the second round's distance overflows a long,
    // after the first round has built the persisted edge layout
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    import org.apache.spark.sql.functions.lit
    val edges = s.createDataFrame(Seq((0L, 1L, Long.MaxValue), (1L, 2L, 1L)))
      .toDF("src", "dst", "w")
    val nodes = s.range(0, 3).toDF("node")
    // the edge layout's `persist` is a cache entry of the shared state
    // until it is unpersisted; no GC removes it (`numCachedEntries` is
    // `private[sql]` in Scala, public in bytecode)
    val cache = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cached = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    val before = cached
    val e = intercept[Exception](Graph.shortestPaths(edges, nodes, lit(0L), maxRounds = 3))
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
    assert(cached === before)
  }

  test("personalized pagerank: all-nodes seed set degenerates to pagerank") {
    val edges = (0L until 40L).map(i => (i % 8, (i * 3) % 8, 1L + i % 5))
      .toDF("src", "dst", "w")
    val nodes = (0L until 8L).toDF("node")
    val ppr = Graph.personalizedPageRank(edges, nodes, nodes, iters = 5)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val pr = Graph.pageRank(edges, nodes, iters = 5)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(ppr === pr)
  }

  test("personalized pagerank: mass stays in the seed's reachable set") {
    // two disconnected 2-cycles; seeding {0} must leave component {2,3}
    // at exactly 0 and split all mass over {0,1}
    val edges = Seq((0L, 1L, 1L), (1L, 0L, 1L), (2L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("node")
    val seeds = Seq(0L).toDF("node")
    val pr = Graph.personalizedPageRank(edges, nodes, seeds, iters = 10)
      .as[(Long, Double)].collect().toMap
    assert(pr(2L) === 0.0 && pr(3L) === 0.0)
    assert(pr(0L) > pr(1L)) // the restart favors the seed
    assert(math.abs(pr(0L) + pr(1L) - 1.0) < 1e-4)
  }

  test("personalized pagerank rejects an empty seed set") {
    val edges = Seq((0L, 1L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(0L, 1L).toDF("node")
    val empty = Seq.empty[Long].toDF("node")
    assertThrows[IllegalArgumentException](
      Graph.personalizedPageRank(edges, nodes, empty, iters = 1))
  }

  test("hits: a directed star yields one pure hub and uniform authorities") {
    val edges = Seq((0L, 1L, 1L), (0L, 2L, 1L), (0L, 3L, 1L)).toDF("src", "dst", "w")
    val nodes = (0L until 4L).toDF("node")
    val r = Graph.hits(edges, nodes, iters = 2)
      .as[(Long, Double, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(0L)._1 === 1.0)            // the only hub gets all hub mass
    assert(r(0L)._2 === 0.0)            // nothing points at it
    assert(r(1L)._1 === 0.0)            // leaves point at nothing
    assert(r(1L) === r(2L) && r(2L) === r(3L)) // symmetric authorities
    assert(math.abs(r(1L)._2 + r(2L)._2 + r(3L)._2 - 1.0) < 1e-4) // L1 norm
  }

  test("hits is deterministic across partitionings") {
    val edges = (0L until 40L).map(i => (i % 8, (i * 3 + 1) % 8, 1L))
      .toDF("src", "dst", "w")
    val nodes = (0L until 8L).toDF("node")
    val a = Graph.hits(edges, nodes, iters = 4)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    val b = Graph.hits(edges.repartition(7), nodes.repartition(3), iters = 4)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("shortestHops: exact BFS levels on a path graph, horizon respected") {
    // path 0→1→2→3→4 plus a shortcut 0→3
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (0L, 3L, 1L)).toDF("src", "dst", "w")
    val nodes = (0L until 6L).toDF("node") // 5 is disconnected
    val d = Graph.shortestHops(edges, nodes, source = 0L, maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(d === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L))
    // horizon: with maxHops = 1 only the direct neighbors appear
    val d1 = Graph.shortestHops(edges, nodes, source = 0L, maxHops = 1)
      .as[(Long, Long)].collect().toMap
    assert(d1 === Map(0L -> 0L, 1L -> 1L, 3L -> 1L))
  }

  test("pagerank is deterministic across partitionings") {
    val edges = (0L until 40L).map(i => (i % 8, (i * 3) % 8, 1L + i % 5))
      .toDF("src", "dst", "w")
    val nodes = (0L until 8L).toDF("node")
    val a = Graph.pageRank(edges, nodes, iters = 6)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = Graph.pageRank(edges.repartition(7), nodes.repartition(3), iters = 6)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  // two unit-weight triangles joined by one bridge edge, plus an isolate —
  // the crafted case where communities differ from components: transitive
  // closure would merge everything reachable into ONE cluster; density-
  // respecting LPA splits at the bridge
  private lazy val lpaEdges = {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L))
    (und ++ und.map(_.swap)).map { case (s, d) => (s, d, 1L) }
      .toDF("src", "dst", "w")
  }
  private lazy val lpaNodes = (1L to 7L).toDF("node")
  // hand-run of 4 synchronous min-tie-break rounds (round-by-round:
  // r1 = [2,1,1,3,4,4], r2 = [1,1,1,4,3,3], r3 = [1,1,1,3,3,3], stable)
  private val lpaExpect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
    4L -> 3L, 5L -> 3L, 6L -> 3L, 7L -> 7L)

  test("label propagation splits bridged triangles; isolates keep their own label") {
    val got = Graph.labelPropagation(lpaEdges, lpaNodes, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === lpaExpect)
    // components for contrast: every connected node would share a label
    val cc = graft.operators.Dedup.clusters(
      lpaEdges.filter($"src" < $"dst").select($"src".as("doc_a"), $"dst".as("doc_b")))
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).map(cc).toSet.size === 1)
  }

  test("label propagation: shuffle path equals broadcast path, deterministic under repartition") {
    val a = Graph.labelPropagation(lpaEdges, lpaNodes, iters = 4,
      broadcastRanksMax = 0).as[(Long, Long)].collect().toMap
    assert(a === lpaExpect)
    val b = Graph.labelPropagation(lpaEdges.repartition(7), lpaNodes.repartition(3),
      iters = 4).as[(Long, Long)].collect().toMap
    assert(b === lpaExpect)
  }
}

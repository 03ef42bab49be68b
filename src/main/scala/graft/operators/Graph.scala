package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics on DataFrames — the power-iteration family
  * (PageRank here; the same shape serves label propagation, which
  * `Dedup.duplicateClusters` already implements as pointer-jumping).
  *
  * Scale shape per iteration: one join (edges ⋈ ranks on src — ranks is
  * node-sized, edges edge-sized) + one dst-keyed aggregate with
  * map-side partials. Nothing is ever collected: state stays a
  * DataFrame. Join strategy is stats-driven: an explicit broadcast hint
  * is only attached while the driver-known node COUNT is under
  * `broadcastRanksMax` — an unconditional hint would be honored
  * regardless of size and force-broadcast a node-sized relation at
  * web-scale node counts (driver/executor OOM); past the gate, Catalyst
  * and AQE pick the src-keyed shuffle from runtime stats.
  *
  * Determinism protocol (the cross-engine hinge, same as
  * `Similarity.lloydCentroids`): per-dst inflow sums go through
  * DECIMAL(27,12) — exact and order-independent under any partitioning
  * — and each iteration's rank is rounded to 6 dp, so both engines
  * iterate on identical doubles and the fixpoint is bit-reproducible.
  */
object Graph {

  /** Above this node count, no broadcast hint is attached to the
    * per-iteration ranks/inflow joins: ~16 B/row puts 1M nodes around
    * the default 10 MB autoBroadcast threshold; the relation then
    * follows stats/AQE like any other join side.
    */
  private[graft] val BroadcastRanksMaxDefault = 1000000L

  /** Power-iteration rounds between two materializations of the inflow. */
  private val CheckpointEvery = 10

  /** Weighted PageRank. `edges`: (src, dst, w); `nodes`: (node).
    * Dangling nodes (no out-edges) leak their mass — the simple
    * formulation; the oracle mirrors it. Returns (node, pr).
    *
    * Exchange shape: the edge relation is partitioned ONCE and
    * persisted, keyed to match the join strategy so edges never move
    * again after the build. Broadcast path (n ≤ broadcastRanksMax):
    * e is DST-partitioned — the join moves nothing and the inflow
    * aggregate inherits the distribution, so an iteration adds NO
    * exchange at all. Shuffle path: e is SRC-partitioned — the join
    * shuffles only the node-sized ranks onto e's layout, and the
    * edge-sized contribution stream is collapsed by the map-side
    * partial agg before its dst exchange (≤ partitions × |dst| rows
    * move, ≪ edges). Keying e by dst in the shuffle path would instead
    * re-exchange the full edge relation on src EVERY iteration.
    *
    * Lineage/cache lifecycle: every [[CheckpointEvery]] iterations the
    * rank state is materialized behind a plan boundary
    * (`Dedup.materializeOnce` — reliable checkpoint on a cluster,
    * localCheckpoint in local mode), so a convergence-driven caller can
    * run 50+ iterations without unbounded plan growth or analysis-time
    * blowup. The final ranks are materialized the same way, after which
    * the iteration-scoped edge cache is RELEASED — repeated pageRank
    * calls in a long-lived session don't accumulate edge-sized cache
    * entries (the returned frame no longer references it).
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int,
               damping: Double = 0.85,
               broadcastRanksMax: Long = BroadcastRanksMaxDefault): DataFrame = {
    val n = nodes.count() // one metadata-sized action, node count only
    require(n > 0, "pageRank needs a non-empty node set")
    val nodeBase = nodes.select(col("node"),
      lit((1.0 - damping) / n).as("base"), lit(1.0 / n).as("pr"))
    powerIterate(edges, nodeBase, n, iters, damping, broadcastRanksMax)
  }

  /** PERSONALIZED PageRank: teleport mass goes only to `seeds` (a
    * `node` column — a topic's trusted pages, a user's liked docs), so
    * ranks measure proximity TO THE SEED SET instead of global
    * importance — the random-walk-with-restart family behind
    * topic-sensitive ranking and graph-based recommendation. Same
    * iteration core, exchange shape, determinism protocol, and
    * broadcast gate as [[pageRank]]; only the per-node base/init
    * column differs (seeds get (1−d)/|S| and 1/|S|, others 0).
    */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame, seeds: DataFrame,
                           iters: Int, damping: Double = 0.85,
                           broadcastRanksMax: Long = BroadcastRanksMaxDefault): DataFrame = {
    val n = nodes.count()
    require(n > 0, "personalizedPageRank needs a non-empty node set")
    val s = seeds.select(col("node")).distinct()
    val nS = s.count()
    require(nS > 0, "personalizedPageRank needs a non-empty seed set")
    val nodeBase = nodes
      .join(s.withColumn("_s", lit(1)), Seq("node"), "left_outer")
      .select(col("node"),
        when(col("_s").isNotNull, lit((1.0 - damping) / nS))
          .otherwise(lit(0.0)).as("base"),
        when(col("_s").isNotNull, lit(1.0 / nS))
          .otherwise(lit(0.0)).as("pr"))
    powerIterate(edges, nodeBase, n, iters, damping, broadcastRanksMax)
  }

  /** HITS hubs & authorities (Kleinberg '99): the two-sided fixpoint —
    * a node's AUTHORITY is the (L1-normalized) sum of the hub scores
    * pointing at it, its HUB score the normalized sum of the authority
    * scores it points at. Unweighted edges (the classical formulation;
    * `distinct` applied defensively). Returns (node, hub, auth).
    * PRECONDITION: every edge endpoint appears in `nodes` (every
    * caller builds edges from the node universe). The r22 raw-sum
    * iteration relies on it: score rosters derive from the previous
    * half-step's aggregate instead of a per-step node join, which is
    * lossless exactly because the aggregates cover every endpoint.
    *
    * Same engineering protocol as [[pageRank]]: edge relation persisted
    * once and released after the fixpoint materializes; node-sized
    * score relations broadcast under the same gate; per-node sums AND
    * the L1 norm go through DECIMAL(27,12) (order-independent) with
    * 6-dp rounding each half-step, so the fixpoint is bit-reproducible
    * cross-engine. Per-iteration normalization keeps every score ≤ 1,
    * inside the DECIMAL cast's range — an unnormalized power iteration
    * overflows DECIMAL(27,12) within a few steps on weighted graphs.
    */
  def hits(edges: DataFrame, nodes: DataFrame, iters: Int,
           broadcastRanksMax: Long = BroadcastRanksMaxDefault): DataFrame = {
    val n = nodes.count()
    require(n > 0, "hits needs a non-empty node set")
    require(iters >= 0)
    val hint: DataFrame => DataFrame =
      if (n <= broadcastRanksMax) broadcast else identity
    // TWO cached edge orientations (r22, guide §2.4): the authority
    // half-step joins edges ON SRC, the hub half-step ON DST — one
    // cache keyed by the distinct() exchange's (src, dst) hash served
    // NEITHER, so every half-step re-exchanged the full edge relation
    // at scale. eDst derives from the eSrc cache (the distinct runs
    // once); both are src/dst-sorted so the scale-path merge joins
    // stream the cache without a per-step sort. The nodes relation is
    // likewise cached node-keyed: it is referenced by every update's
    // outer join (16 references at 4 iterations), each of which
    // otherwise re-ran the caller's corpus scan + distinct.
    val eSrc = edges.select("src", "dst").distinct()
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eDst = eSrc.repartition(col("dst")).sortWithinPartitions("dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nd = nodes.select("node")
      .repartition(col("node")).sortWithinPartitions("node")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ITERATE ON THE RAW-SUM RELATIONS ALONE (r22 second pass — the
    // powerIterate treatment): the r22 loop still joined the node
    // relation TWICE per iteration to rebuild every node's score before
    // the next edge join could run. Those joins are droppable: ar keys
    // every distinct dst of eSrc and hr every distinct src (the edge
    // joins are against complete per-node score relations, so the
    // aggregates cover every edge endpoint), which makes the inner join
    // of the edge cache against the raw-sum-derived scores LOSSLESS —
    // and a node ABSENT from a raw-sum relation carries score
    // round(0/norm, 6) = 0, contributing exactly nothing to the next
    // decimal sum, same as its dropped join rows. Per half-step: one
    // edge join + one map-side-combined aggregate + the 1-row norm, no
    // node-relation join; the node restore runs ONCE at the end with
    // the SAME coalesce/round expressions, so scores — including the
    // degenerate empty-graph and all-zero norms — are bit-identical
    // (GraphSpec star/determinism + the q_hits/q_hits_docs oracles pin
    // it). UNLIKE pageRank's linear chain, each half-step references
    // its raw-sum relation TWICE (the L1 norm AND the next edge join) —
    // left lazy, the lineage fans out exponentially in the iteration
    // count (measured: 4 nation-graph iterations = 118 s of re-computed
    // subtrees). Every half-step therefore materializes behind a plan
    // boundary; the raw-sum relations are node-sized, so each cut is
    // metadata-cheap.
    try {
      var ar: DataFrame = null // (dst, ar) — raw authority sums
      var an: DataFrame = null // 1-row L1 norm of ar
      var hr: DataFrame = null // (src, hr) — raw hub sums
      var hn: DataFrame = null // 1-row L1 norm of hr
      for (i <- 1 to iters) {
        ar = Dedup.materializeOnce(
          if (i == 1)
            // hubs start at 1.0 for EVERY node, so the first authority
            // sums are plain unit sums over the in-edges — no join needed
            eSrc.groupBy("dst")
              .agg(sum(lit(1.0).cast(DecimalType(27, 12))).cast("double").as("ar"))
          else {
            val hScores = hr.crossJoin(hint(hn))
              .select(col("src").as("node"), round(col("hr") / col("hn"), 6).as("h"))
            eSrc.join(hint(hScores), col("src") === col("node"))
              .groupBy("dst")
              .agg(sum(col("h").cast(DecimalType(27, 12))).cast("double").as("ar"))
          })
        an = ar.agg(coalesce(
          sum(col("ar").cast(DecimalType(27, 12))).cast("double"), lit(1.0)).as("an"))
        val aScores = ar.crossJoin(hint(an))
          .select(col("dst").as("node"), round(col("ar") / col("an"), 6).as("a"))
        hr = Dedup.materializeOnce(
          eDst.join(hint(aScores), col("dst") === col("node"))
            .groupBy("src")
            .agg(sum(col("a").cast(DecimalType(27, 12))).cast("double").as("hr")))
        hn = hr.agg(coalesce(
          sum(col("hr").cast(DecimalType(27, 12))).cast("double"), lit(1.0)).as("hn"))
      }
      // node restore, ONCE after the fixpoint (was twice per iteration):
      // the exact r21 score expressions, absent raw sums coalesced to 0
      Dedup.materializeOnce(
        if (iters == 0)
          nd.select(col("node"), lit(1.0).as("hub"), lit(1.0).as("auth"))
        else
          nd.join(hint(hr), col("node") === col("src"), "left_outer")
            .crossJoin(hint(hn))
            .join(hint(ar), col("node") === col("dst"), "left_outer")
            .crossJoin(hint(an))
            .select(col("node"),
              round(coalesce(col("hr"), lit(0.0)) / col("hn"), 6).as("hub"),
              round(coalesce(col("ar"), lit(0.0)) / col("an"), 6).as("auth")))
    } finally {
      eSrc.unpersist()
      eDst.unpersist()
      nd.unpersist()
    }
  }

  /** Single-source shortest HOPS (BFS levels): [[shortestPaths]] over
    * the distinct (src, dst) edges at unit weight, so after k rounds
    * every node holds its exact shortest hop count if it is ≤ k
    * (unreachable-within-k nodes are absent from the output). Returns
    * (node, hops) for reached nodes only.
    */
  def shortestHops(edges: DataFrame, nodes: DataFrame, source: Long,
                   maxHops: Int,
                   broadcastRanksMax: Long = BroadcastRanksMaxDefault): DataFrame =
    shortestHopsAt(edges, nodes, lit(source), maxHops, broadcastRanksMax)

  /** [[shortestHops]] for any node-key type (the doc graph's nodes are
    * URLs, the nation graph's are Long keys): `source` is a literal
    * column compared against the node key.
    */
  def shortestHopsAt(edges: DataFrame, nodes: DataFrame,
                     source: org.apache.spark.sql.Column, maxHops: Int,
                     broadcastRanksMax: Long = BroadcastRanksMaxDefault): DataFrame =
    shortestPaths(edges.select("src", "dst").distinct().withColumn("w", lit(1L)),
        nodes, source, maxHops, broadcastRanksMax)
      .withColumnRenamed("dist", "hops")

  /** Weighted single-source shortest PATHS (SSSP) by iterative
    * min-relaxation: after k rounds every node holds the exact minimum
    * path WEIGHT over paths of at most k edges (distributed
    * Bellman-Ford; nodes unreachable within k edges are absent). Long
    * weights, integer arithmetic throughout — no float protocol needed.
    * Returns (node, dist) for reached nodes.
    *
    * Same lineage discipline as [[hits]]: the distance relation is
    * referenced twice per round (the frontier join and the outer
    * merge), so each round materializes behind a node-sized plan
    * boundary; edges persisted once + released.
    */
  def shortestPaths(edges: DataFrame, nodes: DataFrame,
                    source: org.apache.spark.sql.Column, maxRounds: Int,
                    broadcastRanksMax: Long = BroadcastRanksMaxDefault): DataFrame = {
    val n = nodes.count()
    require(n > 0, "shortestPaths needs a non-empty node set")
    require(maxRounds >= 0)
    val hint: DataFrame => DataFrame =
      if (n <= broadcastRanksMax) broadcast else identity
    // src-keyed, src-sorted cache (r22): every round's frontier join
    // probes edges ON SRC, so each round reads the cached layout
    // instead of re-exchanging the full edge relation at scale (guide §2.4)
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var dist = nodes.select(col("node"),
        when(col("node") === source, lit(0L)).otherwise(lit(null).cast("long"))
          .as("dist"))
      for (_ <- 1 to maxRounds) {
        val relax = e.join(hint(dist.filter(col("dist").isNotNull)),
            col("src") === col("node"))
          .groupBy("dst").agg(min(col("dist") + col("w")).as("nd"))
        dist = Dedup.materializeOnce(
          dist.join(hint(relax), col("node") === col("dst"), "left_outer")
            .select(col("node"),
              when(col("dist").isNull, col("nd"))
                .when(col("nd").isNull, col("dist"))
                .otherwise(least(col("dist"), col("nd"))).as("dist")))
      }
      Dedup.materializeOnce(dist.filter(col("dist").isNotNull))
    } finally e.unpersist()
  }

  /** Synchronous weighted LABEL PROPAGATION (Raghavan et al. '07) —
    * community detection, the graph-family member between connected
    * components (`Dedup.duplicateClusters`' pointer-jumping) and the
    * rank fixpoints: label_0(v) = v; each round every node adopts the
    * label with the greatest incoming edge-weight mass among its
    * neighbors' current labels (its own label kept when it has no
    * in-edges). DETERMINISTIC throughout — the argmax tie-break is the
    * MINIMUM label, and weight sums are integer — so a fixed-round run
    * oracles exactly (async/randomized LPA variants do not). Callers
    * pass a symmetric edge relation for undirected graphs (the
    * `q_hits_docs` shape). Returns (node, label).
    *
    * Exchange shape per round: one src-keyed join moving only the
    * node-sized label relation onto the persisted src-partitioned
    * edges, then the vote aggregate — map-side partials collapse the
    * edge-sized stream to ≤ |dst|·labels-per-dst rows. The per-node
    * argmax is AGGREGATION-only (max weight per dst, then min label
    * achieving it): unlike a row_number window it stays AQE-splittable
    * under degree skew — a celebrity node's votes never serialize onto
    * one task. Same lineage/materialize/hint-gate/edge-release
    * discipline as [[hits]].
    */
  def labelPropagation(edges: DataFrame, nodes: DataFrame, iters: Int,
                       broadcastRanksMax: Long = BroadcastRanksMaxDefault): DataFrame = {
    val n = nodes.count()
    require(n > 0, "labelPropagation needs a non-empty node set")
    require(iters >= 0)
    val hint: DataFrame => DataFrame =
      if (n <= broadcastRanksMax) broadcast else identity
    val e = edges.groupBy("src", "dst").agg(sum(col("w").cast("long")).as("w"))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = nodes.select(col("node"), col("node").as("label"))
      for (_ <- 1 to iters) {
        // ONE-PASS deterministic argmax (r22 second pass): min_by over the
        // ordering struct (−vw, label) picks the row maximizing vw then
        // minimizing label — exactly the old max-join-min chain — in a
        // single stacked aggregate over the vote stream, with NO tie
        // ambiguity because the ordering key embeds the label and votes
        // are unique per (dst, label). This drops the per-round best/
        // winner join AND the votes materialization (votes now has one
        // consumer); the round's only cut is the labels update, halving
        // the per-round action count. Still aggregation-only: a celebrity
        // node's votes never serialize onto one task.
        val votes = e.join(hint(labels), col("src") === col("node"))
          .groupBy(col("dst"), col("label"))
          .agg(sum(col("w")).as("vw"))
        val winner = votes.groupBy("dst")
          .agg(min_by(col("label"), struct(-col("vw"), col("label"))).as("nl"))
        labels = Dedup.materializeOnce(
          labels.join(hint(winner), col("node") === col("dst"), "left_outer")
            .select(col("node"), coalesce(col("nl"), col("label")).as("label")))
      }
      Dedup.materializeOnce(labels)
    } finally e.unpersist()
  }

  /** The shared power-iteration core. `nodeBase`: (node, base, pr) —
    * per-node teleport mass and initial rank, node-sized by contract
    * (one row per node; referenced once per iteration like the ranks).
    */
  private def powerIterate(edges: DataFrame, nodeBase: DataFrame, n: Long,
                           iters: Int, damping: Double,
                           broadcastRanksMax: Long): DataFrame = {
    require(iters >= 0)
    // gate decided ONCE from the driver-known node count — the hinted
    // relation is exactly node-sized by construction (one row per node)
    val broadcastRanks = n <= broadcastRanksMax
    val hint: DataFrame => DataFrame =
      if (broadcastRanks) broadcast else identity
    val outw = edges.groupBy("src").agg(sum(col("w")).as("outw"))
    // ITERATE ON INFLOW, NOT ON RANKS (r22, guide §2.4): the source
    // node's teleport mass and initial rank ride ON the edge relation —
    // computed once in the edge build — so the per-iteration rank
    // update pr(src) = round₆(base + d·coalesce(inflow, 0)) evaluates
    // INSIDE the edge join's projection and the old second join (the
    // node-sized left_outer that re-materialized every node's rank each
    // iteration, with its exchange and sorts) runs ONCE at the end
    // instead of once per iteration. An iteration is now exactly one
    // join against the cached pre-sorted edge layout (no exchange, no
    // sort on the edge side) plus one map-side-combined dst aggregate
    // (the only per-iteration exchange, node-sized after partials).
    // Arithmetic is UNCHANGED: same per-edge pr expression, same
    // DECIMAL(27,12) inflow sums, same 6dp grid — the fixpoint is
    // bit-identical (GraphSpec + the unrolled oracles pin it).
    // Every iteration references e: without a persist the final DAG
    // re-derives the (possibly expensive) edge build once PER iteration;
    // cached, the build runs once and iterations reuse the (edge-count
    // sized, already-aggregated) relation. Broadcast path: e is
    // DST-partitioned, the per-iteration inflow broadcast joins onto it
    // and the dst aggregate inherits the distribution — NO exchange at
    // all. Shuffle path: e is SRC-partitioned AND src-sorted, so the
    // inflow join streams the cache and only the node-sized inflow side
    // exchanges.
    val key = if (broadcastRanks) "dst" else "src"
    val e = edges.join(outw, "src")
      .join(nodeBase.select(col("node"), col("base").as("src_base"),
        col("pr").as("src_init")), col("src") === col("node"))
      .drop("node")
      .repartition(col(key)).sortWithinPartitions(key)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var inflow: DataFrame = null
      for (i <- 1 to iters) {
        val contrib =
          if (i == 1)
            e.select(col("dst"),
              (col("src_init") * col("w") / col("outw"))
                .cast(DecimalType(27, 12)).as("c"))
          else
            e.join(hint(inflow.withColumnRenamed("dst", "idst")),
                col("src") === col("idst"), "left_outer")
              .select(col("dst"),
                (round(col("src_base")
                    + lit(damping) * coalesce(col("inflow"), lit(0.0)), 6)
                  * col("w") / col("outw")).cast(DecimalType(27, 12)).as("c"))
        inflow = contrib.groupBy("dst")
          .agg(sum(col("c")).cast("double").as("inflow"))
        if (i % CheckpointEvery == 0 && i < iters)
          inflow = Dedup.materializeOnce(inflow)
      }
      val ranks =
        if (iters == 0) nodeBase.select("node", "pr")
        else nodeBase.join(hint(inflow), col("node") === col("dst"), "left_outer")
          .select(col("node"),
            round(col("base") + lit(damping) * coalesce(col("inflow"), lit(0.0)), 6)
              .as("pr"))
      // materialize the fixpoint (node-sized) so the edge cache can be
      // dropped NOW instead of leaking until storage eviction
      Dedup.materializeOnce(ranks)
    } finally e.unpersist()
  }
}

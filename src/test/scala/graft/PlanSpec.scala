package graft

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale-critical physical-plan
  * properties (pushdown, broadcast policy, shuffle counts) asserted
  * directly, so a refactor that silently degrades a plan fails CI, not
  * the 100 TB run. See PLANS.md for the full audit.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def shuffles(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).length
  private def broadcasts(p: String): Int = "BroadcastExchange".r.findAllIn(p).length

  test("q3_join: filters pushed to every scan, dims broadcast, one shuffle") {
    val p = plan("q3_join")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "customer filter not pushed to scan")
    assert(p.contains("GreaterThan(l_shipdate"), "lineitem date filter not pushed to scan")
    assert(broadcasts(p) === 2, s"expected orders+customer broadcast:\n$p")
    assert(shuffles(p) === 1, s"expected exactly the aggregation shuffle:\n$p")
  }

  test("q1_agg: map-side partial aggregation before a single exchange") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
    assert(shuffles(p) === 1)
  }

  test("q_postings and projection queries are shuffle-free") {
    // q_simhash joined this list in r4: the native simhash_hex expression
    // fingerprints map-side, replacing the 16×-amplified explode+groupBy
    // q_repetition joined in r9: word_shingles → run_stats (internal
    // sort) is a pure projection — the run pass replaces the per-doc gram
    // histogram a groupBy(doc, gram) would shuffle the corpus for
    // q_entropy joined in r15: the native entropy_stats expression
    // (internal sort + run pass) makes the Shannon-entropy gate a pure
    // projection — the compositional explode → groupBy(doc, term) →
    // groupBy(doc) route shuffles the corpus token stream twice
    Seq("q_postings", "q_token_count", "q_quality", "q_lang_id", "q_binary_stats",
        "q_simhash", "q_repetition", "q_entropy").foreach { q =>
      assert(shuffles(plan(q)) === 0, s"$q gained a shuffle")
    }
  }

  test("multimodal queries: column-pruned scan, shuffle-free map pipeline") {
    // q_frame_sample / q_resize are pure per-row transforms: the parquet
    // scan must read ONLY (doc_id, text) — a scan that drags the other
    // document columns through an encode+mapPartitions pipeline is
    // exactly the waste column pruning exists to stop — and no exchange
    // may appear (posexplode and the batched resize are map-side).
    // q_audio_stats joined in r15: frame slicing + the batched PCM
    // reduction are map-side; the per-(doc, frame) stats come out of
    // the mapPartitions pass itself, no aggregate exchange
    Seq("q_frame_sample", "q_resize", "q_audio_stats").foreach { q =>
      val exec = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val p = exec.toString
      assert(shuffles(p) === 0, s"$q gained a shuffle:\n$p")
      val scans = PlanScans.fileScans(exec)
      assert(scans.nonEmpty, s"$q: no file scan found")
      scans.foreach { s =>
        val cols = s.output.map(_.name).toSet
        assert(cols.subsetOf(Set("doc_id", "text")),
          s"$q scan reads ${cols.mkString(",")} — column pruning lost")
      }
    }
  }

  test("sketch queries: term stream from the posting store, never the corpus") {
    // the r11 store-serving contract: the MG/CMS families (batch and
    // streamed twins) read the persisted posting relation's term column;
    // a refactor that re-tokenizes documents.parquet silently re-adds
    // the corpus scan these queries exist to avoid
    Seq("q_heavy_hitters", "q_heavy_hitters_streamed",
        "q_cms_watchlist", "q_cms_watchlist_streamed").foreach { q =>
      val exec = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val scansDocs = PlanScans.fileScans(exec).exists(
        _.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")))
      assert(!scansDocs, s"$q re-reads documents.parquet — store-serving contract broken")
    }
  }

  test("q_gram_topk: map-side partial count, one exchange, TakeOrdered top-k") {
    val p = plan("q_gram_topk")
    assert(p.contains("partial_count"), "pair counts must pre-aggregate map-side")
    assert(shuffles(p) === 1, s"expected exactly the gram-keyed exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered, not a global sort")
  }

  test("q_lm_score: store-served — no corpus re-tokenization, one doc-agg exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("q_lm_score")(spark, dir)
    df.collect() // AQE: inspect the final plan the run actually used
    val p = df.queryExecution.executedPlan
    // every scan reads a persisted store relation (tf/stats/scalars) —
    // the corpus itself is never re-read, let alone re-tokenized
    val scans = PlanScans.fileScans(p)
    assert(scans.nonEmpty)
    assert(scans.forall(s => !s.toString.contains("documents.parquet")),
      s"q_lm_score must serve from the term-stats store:\n$p")
    // exactly ONE data-sized exchange: the per-doc aggregate. c(term)
    // joins in from the vocab-sized stats relation (broadcast here;
    // skew-splittable shuffle join at scale — never a term window), and
    // the scalar N is a broadcast row
    val ex = PlanScans.nodes(p) { case e: ShuffleExchangeExec => e }
    assert(ex.size === 1, s"expected only the doc-aggregate exchange:\n$p")
  }

  test("q_mix: data-sized RANGE rank exchange, no per-source sort wall; counts pruned") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_mix")(spark, dir)
    df.collect() // AQE: inspect the FINAL plan the run actually used
    val p = df.queryExecution.executedPlan
    val scans = PlanScans.fileScans(p)
    // two pruned scans: (doc_id, source) under the rank and a
    // source-ONLY scan feeding the partial-aggregated counts branch —
    // never a full-schema read of documents
    assert(scans.size === 2, s"expected the rank + counts scans:\n$p")
    assert(scans.exists(_.schema.fieldNames.toSeq == Seq("source")),
      s"counts scan must prune to the source column:\n$p")
    assert(scans.forall(!_.schema.fieldNames.contains("text")),
      s"no branch may read the text column:\n$p")
    // the ONLY corpus-row exchange is RangeRank's range repartition — a
    // hot source spans many partitions. The former
    // row_number-over-partitionBy(source) hash exchange put each
    // source's full doc mass on one task; no corpus rows may hash on
    // source anymore, and the only windows left are over RangeRank's
    // tiny (≤ partitions × sources) offsets relation
    val xch = PlanScans.nodes(p) { case s: ShuffleExchangeExec => s }
    assert(xch.count(_.outputPartitioning.toString.startsWith("rangepartitioning")) === 1,
      s"expected exactly the RangeRank range exchange:\n$p")
    val wins = PlanScans.nodes(p) { case w: WindowExec => w }
    assert(wins.forall(w => PlanScans.nodes(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty),
      s"every window must run over the AGGREGATED offsets relation " +
        s"(the straggler shape windows raw corpus rows):\n$p")
    assert(p.toString.contains("partial_count"),
      "counts must partial-aggregate map-side before their exchange")
  }

  test("q_sim_topk: broadcast query vector, no hash-partition shuffle") {
    val p = plan("q_sim_topk")
    assert(broadcasts(p) === 1)
    assert(shuffles(p) === 0, s"brute-force top-k must not shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-k should be TakeOrdered, not global sort")
  }

  private def query(name: String) = SparkEntry.queries(name)(spark, dir)

  test("q_term_lookup: bucket-pruned persisted index, zero exchanges") {
    val p = plan("q_term_lookup")
    PlanScans.assertBucketPruned(query("q_term_lookup"), _ == 1)
    assert(shuffles(p) === 0 && broadcasts(p) === 0)
  }

  test("q_term_fuzzy: matched-term IN literal bucket-prunes the postings scan") {
    // the SymSpell dictionary match lifts its (bounded) matched-term set
    // to the driver precisely so the postings read is a STATIC IN filter
    // — "park" matches {part, spark}, two terms → at most two buckets
    PlanScans.assertBucketPruned(query("q_term_fuzzy"), n => n == 1 || n == 2)
  }

  test("q_phrase: one scan of the positional index, pruned to the phrase terms' buckets") {
    // two phrase terms → one scan filtered to both, pruned to their one
    // or two buckets — the corpus is never re-tokenized to answer a
    // phrase query
    PlanScans.assertBucketPruned(query("q_phrase"), n => n == 1 || n == 2)
  }

  test("q_near: both proximity slices bucket-pruned, no corpus scan") {
    val near = query("q_near")
    val reads = PlanScans.assertBucketPruned(near, _ == 1, scans = 2)
    val exec = near.queryExecution.executedPlan
    // a broadcast join sits between each slice and the doc_id aggregate,
    // so Spark's DisableUnnecessaryBucketedScan keeps the bucketed scans
    // (one task per bucket); PrunedBucketScan flattens them
    assert(reads.forall(!_.scan.bucketedScan), s"q_near kept a bucketed scan:\n$exec")
    val scansDocs = PlanScans.fileScans(exec).exists(
      _.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")))
    assert(!scansDocs, "q_near re-tokenizes the corpus instead of reading the positional store")
  }

  test("4-term phrase: one bucket-pruned scan, no join, exactly one shuffle") {
    // the scaling guard for the phrase family: a longer phrase widens
    // the one term filter — it adds no scan, no join and no exchange
    // (per-term slices joined on (doc_id, start) would shuffle or
    // broadcast one posting slice per phrase term)
    val phrase = graft.operators.InvertedIndex.phraseQuery(
      graft.sources.IndexStore.positionalPostings(spark, dir),
      Seq("value", "table", "spark", "hash"))
    PlanScans.assertBucketPruned(phrase, n => n >= 1 && n <= 4)
    val exec = phrase.queryExecution.executedPlan
    assert(PlanScans.nodes(exec) { case j: BaseJoinExec => j }.isEmpty, s"phrase plans a join:\n$exec")
    assert(PlanScans.nodes(exec) { case e: ShuffleExchangeLike => e }.size === 1,
      s"phrase must shuffle exactly once, by doc_id:\n$exec")
  }

  test("q_salted_join: observed fan is 1 on a task-scale key distribution — no replication") {
    // the adaptive-fan contract (r12): l_orderkey's hottest key is a
    // handful of rows — nothing overflows a task — so the fan decision
    // must come back 1 and the executed plan must contain NO dimension
    // replication (no explode) and no salt column
    val li = graft.sources.Tables.tbl(spark, dir, "lineitem")
    assert(graft.operators.Skew.observedSaltFan(li, "l_orderkey", maxSalts = 8) === 1)
    val p = plan("q_salted_join")
    assert(!p.contains("explode"), s"uniform keys still pay dim replication:\n$p")
    assert(!p.contains("_salt"), s"salt column present on a fan-1 decision:\n$p")
  }

  test("observedSaltFan: a key that overflows a task gets a fan scaled to its volume") {
    import spark.implicits._
    // 4,000 rows of one hot key + 50 singletons; with hotKeyRows=500 the
    // hot key is ~8 task-loads → fan 8; a generous threshold → fan 1;
    // the cap clamps. sampleFraction 1.0 removes sampling noise from the
    // pin (the decision path is identical — the fraction only scales the
    // estimate).
    val big = (Seq.fill(4000)(7L) ++ (100L until 150L)).toDF("k").repartition(5)
    val fan = graft.operators.Skew.observedSaltFan(
      big, "k", maxSalts = 16, hotKeyRows = 500, sampleFraction = 1.0)
    assert(fan === 8, s"expected fan 8 for an 8-task-load hot key, got $fan")
    assert(graft.operators.Skew.observedSaltFan(
      big, "k", maxSalts = 4, hotKeyRows = 500, sampleFraction = 1.0) === 4)
    assert(graft.operators.Skew.observedSaltFan(
      big, "k", maxSalts = 16, hotKeyRows = 1000000, sampleFraction = 1.0) === 1)
    // and the adaptive join under a forced-salt threshold still equals the plain join
    val small = Seq((7L, "dim7"), (100L, "d100"), (999L, "dx")).toDF("sk", "name")
    val adaptive = graft.operators.Skew.adaptiveSaltedJoin(
      big, small, "k", "sk", maxSalts = 16, hotKeyRows = 500)
    val plain = big.join(small, big("k") === small("sk"))
    assert(adaptive.columns.toSeq === plain.columns.toSeq)
    assert(adaptive.count() === plain.count())
    assert(adaptive.except(plain).count() === 0 && plain.except(adaptive).count() === 0)
  }

  test("q_pack: ONE materialized range exchange, prefix work never re-sorts the corpus") {
    // static plan: the local-sum branch and the per-partition totals
    // branch both reference the range repartition (two static nodes)...
    val df = SparkEntry.queries("q_pack")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange rangepartitioning".r.findAllIn(p).length === 2,
      s"expected the two branch references to one range exchange:\n$p")
    // ...that AQE dedupes into ONE materialized shuffle at runtime —
    // the invariant offset correctness depends on (independently
    // sampled boundaries would describe the wrong partitions)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(fin.contains("ReusedExchange"),
      s"range exchange must materialize once at runtime:\n$fin")
    // no single-task corpus window: the only SinglePartition exchange
    // may carry the #partitions-sized offsets relation (fed by the
    // partial aggregate), never raw corpus rows
    assert("Exchange SinglePartition".r.findAllIn(fin).length <= 1 &&
      fin.contains("partial_sum"),
      s"per-partition totals must partial-aggregate before the offsets window:\n$fin")
  }

  test("semi/anti joins: filter pushed to the build-side scan, no output widening") {
    val semi = plan("q_semijoin")
    assert(semi.contains("LeftSemi"), s"expected a semi join:\n$semi")
    assert(semi.contains("EqualTo(o_orderpriority,1-URGENT)"), "orders filter not pushed to scan")
    val anti = plan("q_antijoin")
    assert(anti.contains("LeftAnti"), s"expected an anti join:\n$anti")
    assert(anti.contains("EqualTo(o_orderpriority,1-URGENT)"), "orders filter not pushed to scan")
  }

  test("q_disjunctive_rev (Q19 shape): per-side disjunctions extracted and PUSHED to both scans") {
    // the OR-of-ANDs spans both join sides; Catalyst must derive each
    // side's implied disjunction — the quantity envelope to the
    // lineitem scan, the brand/size Or to the part scan — instead of
    // filtering the raw join product
    val p = plan("q_disjunctive_rev")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      s"quantity disjunction not pushed to the lineitem scan:\n$p")
    assert(p.contains("Or(And(EqualTo(p_brand,Brand#1)"),
      s"brand/size disjunction not pushed to the part scan:\n$p")
    // the full cross-side residual rides the equi join, never a
    // post-join filter over an unfiltered product
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi join carrying the residual:\n$p")
  }

  test("q_late_suppliers (Q21 shape): BOTH self-join branches plan as equi semi/anti, never a nested loop") {
    // the fact-fact self-join with a supplier inequality residual must
    // key each branch on the ORDER key (hash/sort-merge semi + anti);
    // a nested-loop plan here is quadratic in lineitem at scale
    val p = plan("q_late_suppliers")
    assert(p.contains("LeftSemi"), s"expected a left-semi self-join branch:\n$p")
    assert(p.contains("LeftAnti"), s"expected a left-anti self-join branch:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"Q21 self-joins must stay equi-keyed:\n$p")
    // the inequality rides as a join residual on an order-keyed join,
    // not as a post-join filter over a widened product
    assert(p.contains("l_orderkey"), s"self-joins must key on l_orderkey:\n$p")
    // late-side probe is collapsed before the self-joins: the returnflag
    // and order-status filters reach the scans
    assert(p.contains("EqualTo(l_returnflag,R)"), s"returnflag filter not pushed:\n$p")
    assert(p.contains("EqualTo(o_orderstatus,F)"), s"order-status filter not pushed:\n$p")
  }

  test("q_excess_stock (Q20 shape): aggregate-then-equi-semi, never a nested loop") {
    // the correlated 0.5·sum(qty) gate must collapse the lineitem mass
    // to ≤ |supplier| rows BEFORE the supplier semi-join — the classic
    // Q20 decorrelation; a nested-loop or cartesian here re-evaluates
    // the scalar subquery per supplier at scale
    val p = plan("q_excess_stock")
    assert(p.contains("LeftSemi"), s"expected the supplier semi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"Q20 chain must stay equi-keyed:\n$p")
    // the part-name filter reaches the part scan (the probe side is
    // pruned before the lineitem join moves anything)
    assert(p.contains("EqualTo(p_name,small gizmo)"),
      s"part-name filter not pushed:\n$p")
    // the gate is an aggregate HAVING, not a per-row correlated rescan:
    // exactly one aggregate pair (partial+final) over the lineitem side
    assert(p.contains("HashAggregate"), s"expected the decorrelated aggregate:\n$p")
  }

  test("q_min_cost_supp (Q2 shape): decorrelated regional min — equi-joins only, part filter pushed") {
    // the classic correlated regional-min must NOT plan as a per-part
    // rescan: one aggregate over the region-scoped pair relation, then
    // an equi-join back on (part, cost) — never a nested loop
    val p = plan("q_min_cost_supp")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"Q2 decorrelation must stay equi-keyed:\n$p")
    assert(p.contains("EqualTo(p_size,15)"), s"part-size filter not pushed:\n$p")
    assert(p.contains("EqualTo(r_name,EUROPE)"), s"region filter not pushed:\n$p")
    assert(p.contains("HashAggregate"), s"expected the per-part min aggregate:\n$p")
  }

  test("q_order_priority (Q4 shape): EXISTS plans as an order-keyed semi-join, filters pushed") {
    val p = plan("q_order_priority")
    assert(p.contains("LeftSemi"), s"expected the EXISTS semi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"Q4 must stay equi-keyed:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"quarter filter not pushed to the orders scan:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"problem-flag filter not pushed to the lineitem scan:\n$p")
  }

  test("q_forecast_rev (Q6 shape): pure pushed-filter scan, no join, no hash exchange") {
    // the canonical scan benchmark: every predicate must reach the
    // parquet scan and the plan must be scan → partial agg → 1-row
    // final agg — a join or hash exchange anywhere is a regression
    val p = plan("q_forecast_rev")
    // the rendered PushedFilters list truncates past ~100 chars (the
    // q_zorder_box precedent), so the bound pins read the Filter node
    // and the pushed list's surviving prefix
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda"),
      s"predicates not pushed to the lineitem scan:\n$p")
    assert("l_shipdate#\\d+ >= 1999-01-01".r.findFirstIn(p).nonEmpty, s"ship-date lower bound missing:\n$p")
    assert("l_shipdate#\\d+ < 2000-01-01".r.findFirstIn(p).nonEmpty, s"ship-date upper bound missing:\n$p")
    assert("l_discount#\\d+ >= 0.05".r.findFirstIn(p).nonEmpty, s"discount lower bound missing:\n$p")
    assert("l_discount#\\d+ <= 0.07".r.findFirstIn(p).nonEmpty, s"discount upper bound missing:\n$p")
    assert("l_quantity#\\d+ < 24.0".r.findFirstIn(p).nonEmpty, s"quantity bound missing:\n$p")
    assert(!p.contains("Join"), s"Q6 has no join:\n$p")
    assert(shuffles(p) === 0, s"expected only the 1-row final-agg exchange:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"no map-side partials:\n$p")
  }

  test("q_nation_volume (Q7 shape): nation filters collapse broadcast dims, equi-joins only") {
    val p = plan("q_nation_volume")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"Q7 must stay equi-keyed:\n$p")
    // the two-nation IN filter reaches the nation scans (both dim sides)
    assert(p.contains("In(n_name"), s"nation-name filter not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"ship-window filter not pushed to the fact scan:\n$p")
    assert(broadcasts(p) >= 2, s"supplier/customer dim sides must broadcast:\n$p")
  }

  test("q_market_share (Q8 shape): ONE conditional aggregate, scope filters pushed") {
    val p = plan("q_market_share")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"Q8 must stay equi-keyed:\n$p")
    assert(p.contains("EqualTo(p_type,ECONOMY)"), s"part-type filter not pushed:\n$p")
    assert(p.contains("EqualTo(r_name,ASIA)"), s"region filter not pushed:\n$p")
    // numerator and denominator in the SAME aggregate: exactly one
    // o_year aggregation exchange, never a second revenue pass
    assert("Exchange hashpartitioning\\(o_year".r.findAllIn(p).length === 1,
      s"expected exactly one year-keyed aggregate exchange:\n$p")
  }

  test("q_product_profit (Q9 shape): name filter pushed as contains, dims broadcast") {
    val p = plan("q_product_profit")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"Q9 must stay equi-keyed:\n$p")
    assert(p.contains("StringContains(p_name,gizmo)"),
      s"product-name filter not pushed to the part scan:\n$p")
    assert(broadcasts(p) >= 1, s"supplier⋈nation dim side must broadcast:\n$p")
  }

  test("q_supplier_cnt (Q16 shape): NOT IN plans as a broadcast anti-join over the pair relation") {
    val p = plan("q_supplier_cnt")
    assert(p.contains("LeftAnti"), s"expected the complaint anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the complaint side is a bounded dim: its balance filter is pushed
    assert(p.contains("LessThan(s_acctbal,0.0)"),
      s"complaint filter not pushed to the supplier scan:\n$p")
  }

  test("q_global_sales_opp (Q22 shape): anti-join on recent orders, window filter pushed") {
    val p = plan("q_global_sales_opp")
    assert(p.contains("LeftAnti"), s"expected the no-recent-order anti-join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"recent-window filter not pushed to the orders scan:\n$p")
    // the global average is a 1-row broadcast (the Q11 crossJoin
    // discipline) — a cartesian over data-sized sides is a regression
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q_facts_asof: the batch filter reaches the store scan; no dedup exchange") {
    // time-travel must be a PRUNED SCAN, not a post-read filter: each
    // ingest batch wrote its own files with a constant _gbatch, so the
    // pushed predicate skips post-batch files via row-group stats; and
    // the compacted store serves raw — the only exchange is the
    // aggregate's, never a dropDuplicates re-proof
    val df = SparkEntry.queries("q_facts_asof")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("LessThanOrEqual(_gbatch,1)"),
      s"the as-of batch filter must be pushed to the store scan:\n$p")
    assert(shuffles(p) === 1,
      s"expected exactly the aggregate exchange (no dedup re-proof):\n$p")
  }

  test("q_percentiles serves the shared quantile store; the ONE range pass lives at store build") {
    // r14: the timed q_percentiles plan is a bare store-file projection
    // — NO exchange of any kind (the whole point of sharing one
    // range-rank pass across the percentile family)
    val df = SparkEntry.queries("q_percentiles")(spark, dir)
    df.collect()
    val served = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(served.contains("FileScan parquet"), s"expected a store read:\n$served")
    assert(shuffles(served) === 0 && !served.contains("rangepartitioning"),
      s"the served plan must not shuffle at all:\n$served")
    // the r5 exchange-shape pins move to the store's BUILD plan: the
    // stats relation carries NO broadcast hint (a high-cardinality key
    // would make a forced broadcast a driver OOM) — the stats branch
    // and the rank branch both reference the range repartition (two
    // static nodes) that AQE dedupes into ONE materialized shuffle
    // (ReusedExchange at runtime), and the rank join resolves as a
    // broadcast join — the ranked data is never hash-re-shuffled. (At
    // toy scale the planner may broadcast the small fact side; at
    // 100 TB that side exceeds the threshold and AQE broadcasts the
    // tiny stats side — size-driven either way, which is the point of
    // dropping the hint.)
    val build = graft.operators.Percentiles.exactQuantiles(
      graft.sources.Tables.tbl(spark, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
    val p = build.queryExecution.executedPlan.toString
    assert("Exchange rangepartitioning".r.findAllIn(p).length === 2,
      s"expected the two branch references to one range exchange:\n$p")
    build.collect()
    val fin = build.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(fin.contains("ReusedExchange"),
      s"range exchange must materialize once at runtime:\n$fin")
    assert(fin.contains("BroadcastHashJoin") && !fin.contains("SortMergeJoin"),
      s"rank join must resolve as a broadcast join at runtime:\n$fin")
    assert(shuffles(fin) <= 3, s"only the tiny stats/offset/agg exchanges may shuffle:\n$fin")
  }

  test("q_attributed: interval join keys on user_id, never a nested loop") {
    // the stream-stream interval join's batch twin: the equality on
    // user_id must anchor the join (SMJ/BHJ with the time-interval bound
    // as residual predicate) — a planner that only sees the range
    // condition would fall back to BroadcastNestedLoop, which is
    // all-pairs-per-user-cross at scale
    val p = plan("q_attributed")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"interval join degraded to a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"expected an equi-anchored join:\n$p")
  }

  test("q_full_join: pre-aggregated sides, SMJ full outer, no nested loop") {
    // full outer admits no broadcast strategy: the healthy shape is the
    // two per-side pre-aggregation exchanges feeding one sort-merge
    // full-outer join — nothing wider ever crosses the wire
    val p = plan("q_full_join")
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n$p")
    assert(shuffles(p) === 2, s"expected only the two pre-agg exchanges:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"full outer degenerated to a nested loop:\n$p")
  }

  test("grouped top-k plans bound each group via WindowGroupLimit (partial + final)") {
    // Spark 3.5+ rewrites rank-predicate-over-window into a bounded
    // per-group limit (heap, not a full per-partition sort of all rows)
    // BEFORE and AFTER the exchange. This is why the engine composes the
    // built-in window form instead of a custom top-k operator — the pin
    // fails if a refactor (e.g. an expression wrapper around the rank
    // column) breaks the pattern match and silently restores the
    // sort-everything plan.
    for (q <- Seq("q_top_terms_per_source", "q_sample_per_source", "q_knn_join")) {
      val p = plan(q)
      assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined,
        s"$q lost the map-side (Partial) group limit:\n$p")
      assert("WindowGroupLimit.*Final".r.findFirstIn(p).isDefined,
        s"$q lost the reduce-side (Final) group limit:\n$p")
    }
  }

  test("q_validate single-pass shape survives planning: one scan, no join, no union") {
    val p = plan("q_validate")
    assert(!p.contains("Union"), s"q_validate unioned per-check scans:\n$p")
    assert("Scan parquet".r.findAllIn(p).length === 1,
      s"q_validate read the table more than once:\n$p")
  }

  test("q_profile and q_corr project from the SHARED cached moments row") {
    // one lineitem scan serves both: each plan must read the cached
    // one-row moments relation, never its own parquet pass (the r12
    // shape ran two near-identical moment scans — the board's top two
    // bench costs)
    for (q <- Seq("q_profile", "q_corr")) {
      val p = plan(q)
      assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
        s"$q does not read the cached moments relation:\n$p")
    }
  }

  test("q_fuzzy_urls and q_triangles: equi-joins only, never a nested loop or cartesian") {
    // the SymSpell variant join and the canonical-edge triangle joins
    // are the whole point of these formulations — a refactor that
    // degrades either to an all-pairs comparison must fail here
    for (q <- Seq("q_fuzzy_urls", "q_triangles")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q nested loop:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
    }
  }

  test("q_not_in plans the null-aware anti-join fast path, not a nested loop") {
    // NOT IN with a nullable probe column degenerates to
    // BroadcastNestedLoopJoin unless the single-column null-aware
    // BroadcastHashJoin optimization applies (subquery side known
    // non-null); the pin fails if the subquery loses its IS NOT NULL
    // guard or grows a second column
    val p = plan("q_not_in")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q_not_in degenerated to a nested loop:\n$p")
    assert("LeftAnti, BuildRight, true".r.findFirstIn(p).isDefined,
      s"null-aware hash anti-join flag missing:\n$p")
  }

  test("q_jaccard_pairs: equi-joins throughout, never a nested loop or cartesian") {
    val p = plan("q_jaccard_pairs")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"jaccard pipeline degenerated to a non-equi join:\n$p")
  }

  test("q_pivot: two-phase pivot, second exchange over pre-aggregated rows only") {
    // Spark's pivot contract: groupBy(flag, status) pre-aggregate, then
    // pivotfirst — the second exchange moves one row per (flag, status)
    // combination, not source data, so it is O(cardinality) at any scale
    val pv = plan("q_pivot")
    assert(shuffles(pv) === 2)
    assert(pv.contains("pivotfirst"), s"expected pivot aggregation:\n$pv")
    assert(!pv.contains("Expand"), "explicit-value pivot should not Expand")
  }

  test("q_events_enriched: dim broadcast, one windowed-agg shuffle") {
    val p = plan("q_events_enriched")
    assert(broadcasts(p) === 1, s"dim must broadcast:\n$p")
    assert(shuffles(p) === 1)
  }

  test("boolean queries read the bucket-pruned index with one scan pass per side") {
    val and = plan("q_bool_and")
    PlanScans.assertBucketPruned(query("q_bool_and"), n => n == 1 || n == 2)
    assert(shuffles(and) === 1, "AND should be filter + one aggregation shuffle")
    // the match counter is a plain count over the (term, doc_id)-unique
    // posting relation — a countDistinct here plans an Expand + two-phase
    // distinct aggregate, doubling the shuffle width
    assert(!and.contains("Expand"), s"AND regressed to a distinct aggregate:\n$and")
    PlanScans.assertBucketPruned(query("q_bool_not"), n => n == 1 || n == 2)
  }

  test("one-term lookup on IndexStore.postings reads its bucket's file in one task") {
    val lookup = graft.operators.InvertedIndex.lookup(
      graft.sources.IndexStore.postings(spark, dir), "spark")
    val r = PlanScans.assertBucketPruned(lookup, _ == 1).head
    assert(r.partitions === 1, s"lookup scheduled ${r.partitions} scan tasks")
  }

  /** The three multi-term serve operators over the persisted stores. */
  private def serveOps = {
    val positional = graft.sources.IndexStore.positionalPostings(spark, dir)
    val postings = graft.sources.IndexStore.postings(spark, dir)
    Seq(
      "phrase" -> graft.operators.InvertedIndex.phraseQuery(positional, Seq("value", "table")),
      "andNot" -> graft.operators.BooleanQuery.andNot(postings, "spark", Seq("hash")),
      "bm25" -> graft.sources.TermStatsStore.bm25(spark, dir, Seq("spark", "hash"), 10))
  }

  test("phrase, AND-NOT and the BM25 tf slice read pruned buckets through flat scans") {
    // one scan each, filtered to all the operator's terms; the doc_id
    // exchange above it needs no term partitioning, so Spark's own
    // DisableUnnecessaryBucketedScan flattens it (one task per selected
    // file, not one per bucket)
    serveOps.foreach { case (name, df) =>
      val reads = PlanScans.assertBucketPruned(df, n => n == 1 || n == 2)
      assert(reads.forall(!_.scan.bucketedScan),
        s"$name kept a bucketed scan:\n${df.queryExecution.executedPlan}")
    }
  }

  test("phrase, AND-NOT and BM25 plan one shuffle exchange and no broadcast") {
    // one exchange (by doc_id) and no broadcast is what makes each a
    // two-job query under AQE: the exchange's map stage and the result;
    // every broadcast or extra exchange is one more job. BM25's corpus
    // scalars are literals, not a broadcast scalar row
    serveOps.foreach { case (name, df) =>
      df.collect()
      val exec = df.queryExecution.executedPlan
      assert(PlanScans.nodes(exec) { case e: ShuffleExchangeLike => e }.size === 1,
        s"$name must shuffle exactly once:\n$exec")
      assert(PlanScans.nodes(exec) { case e: BroadcastExchangeLike => e }.isEmpty,
        s"$name plans a broadcast:\n$exec")
    }
  }

  test("PrunedBucketScan refuses a plan that uses the layout: term-keyed count stays bucketed") {
    // grouping by the bucket key is satisfied by the bucketed scan's
    // partitioning; a flat scan would need a shuffle, so the rule leaves it
    val counts = graft.sources.IndexStore.postings(spark, dir)
      .filter(col("term").isin("spark", "hash")).groupBy("term").count()
    val reads = PlanScans.assertBucketPruned(counts, n => n == 1 || n == 2)
    val exec = counts.queryExecution.executedPlan
    assert(reads.forall(_.scan.bucketedScan), s"term-keyed count lost its bucketed scan:\n$exec")
    assert(PlanScans.nodes(exec) { case e: ShuffleExchangeLike => e }.isEmpty,
      s"term-keyed count gained a shuffle:\n$exec")
    assert(counts.collect().length === 2)
  }

  test("q_colocated_join: bucketed large×large join plus per-key agg with ZERO exchanges") {
    val p = plan("q_colocated_join")
    assert(p.contains("SortMergeJoin"), s"expected the sort-merge bucket join:\n$p")
    assert(shuffles(p) === 0, s"co-located join must not shuffle either side:\n$p")
    assert(broadcasts(p) === 0, s"no broadcast — the shape must scale large×large:\n$p")
    assert(!p.contains("Exchange"), s"zero exchanges of any kind:\n$p")
  }

  test("q_zorder_box: single pushed-filter scan of the clustered rewrite, no exchange") {
    val p = plan("q_zorder_box")
    assert(shuffles(p) === 0 && broadcasts(p) === 0, s"box read must be scan-only:\n$p")
    // the rendered PushedFilters list truncates past ~100 chars, so pin
    // the first pushed range bound plus both columns' presence in the list
    assert(p.contains("GreaterThanOrEqual(l_orderkey,100)"), s"orderkey bound not pushed:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), IsNotNull(l_partkey)"),
      s"partkey not in the pushdown list:\n$p")
  }

  test("q_decontaminate: eval shingles broadcast, corpus served from the store, never re-shuffled") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val p = SparkEntry.queries("q_decontaminate")(spark, dir)
      .queryExecution.executedPlan
    // tree-based counts: the session store's one-time build plan renders
    // inside the InMemoryRelation string but is NOT live — only the
    // tree's own exchanges execute per query
    assert(PlanScans.nodes(p) { case b: BroadcastExchangeExec => b }.size === 1,
      s"eval shingle relation must broadcast:\n$p")
    assert(PlanScans.nodes(p) { case j: BroadcastHashJoinExec => j }.size === 1,
      s"corpus must join map-side:\n$p")
    assert(PlanScans.nodes(p) { case j: SortMergeJoinExec => j }.isEmpty,
      s"must never sort-merge the corpus:\n$p")
    // exactly ONE live hash exchange — the eval-side distinct (eval-set-
    // sized by the doc_id cap); the per-doc overlap aggregate reuses the
    // store's doc_id partitioning, so the corpus is never re-shuffled
    assert(PlanScans.nodes(p) { case s: ShuffleExchangeExec => s }.size === 1,
      s"corpus side gained a live shuffle:\n$p")
    // both sides read the persisted shingle store — no parquet re-read,
    // no per-query re-tokenize
    assert(PlanScans.nodes(p) { case s: InMemoryTableScanExec => s }.size === 2,
      s"both sides must serve from the session shingle store:\n$p")
    assert(PlanScans.fileScans(p).isEmpty, s"corpus must not be re-read from parquet:\n$p")
    // live tree check (a string match would also see the store's rendered
    // build plan): the overlap count must have a map-side Partial phase
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Partial}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val partialCounts = PlanScans.nodes(p) {
      case a: HashAggregateExec if a.aggregateExpressions.exists(e =>
        e.mode == Partial && e.aggregateFunction.isInstanceOf[Count]) => a
    }
    assert(partialCounts.nonEmpty, s"overlap count must pre-aggregate map-side:\n$p")
  }

  test("q_cat_top_rank (DS q67 shape): Expand over the leaf aggregate, window over the rollup output") {
    val exec = SparkEntry.queries("q_cat_top_rank")(spark, dir).queryExecution.executedPlan
    val p = exec.toString
    assert(p.contains("Expand"), s"rollup must plan grouping-set Expand:\n$p")
    assert(p.contains("Window"), s"rank must plan a Window, not a re-aggregate:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"must stay equi-keyed:\n$p")
    // the scale property: every Expand's subtree must contain the leaf
    // HashAggregate BELOW it — an Expand fed by the fact join would
    // multiply fact rows by the number of grouping sets
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val expands = PlanScans.nodes(exec) { case e: ExpandExec => e }
    assert(expands.nonEmpty, s"no Expand in the executed plan:\n$p")
    assert(expands.forall(e =>
        PlanScans.nodes(e.child) { case a: HashAggregateExec => a }.nonEmpty),
      s"Expand must run over the (type, brand) leaf aggregate, not fact rows:\n$p")
  }

  test("q_channel_report (DS q77 shape): three pushed per-channel aggregates, rollup over the conformed union") {
    val exec = SparkEntry.queries("q_channel_report")(spark, dir).queryExecution.executedPlan
    val p = exec.toString
    assert(p.contains("Union"), s"expected the conformed UNION ALL:\n$p")
    assert(p.contains("Expand"), s"expected the channel rollup Expand:\n$p")
    assert(!p.contains("Join"), s"the conformed union has no join:\n$p")
    // each channel branch pre-aggregates to month grain with map-side
    // partials before the union — the rollup moves report-sized rows
    assert("partial_sum".r.findAllIn(p).length >= 3,
      s"every channel branch must pre-aggregate map-side:\n$p")
    assert(p.contains("EqualTo(event_type,purchase)"),
      s"web-channel filter not pushed to the events scan:\n$p")
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.UnionExec
    val expands = PlanScans.nodes(exec) { case e: ExpandExec => e }
    assert(expands.nonEmpty && expands.forall(e =>
        PlanScans.nodes(e.child) { case u: UnionExec => u }.nonEmpty),
      s"rollup Expand must run over the aggregated union, not a fact scan:\n$p")
  }

  test("q_state_returns (DS q1 shape): decorrelated different-grain average, nation average broadcast back") {
    val exec = SparkEntry.queries("q_state_returns")(spark, dir).queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the correlated average must decorrelate to equi-joins:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returns filter not pushed to the lineitem scan:\n$p")
    // the per-customer aggregate runs ONCE: BOTH consumers (result rows
    // and the 25-row nation average) serve from the persisted
    // customer-grain relation — live-tree check, because the rendered
    // string would also show the cache's build plan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    assert(PlanScans.nodes(exec) { case s: InMemoryTableScanExec => s }.size === 2,
      s"both consumers must serve from the cached customer-grain relation:\n$p")
    assert(PlanScans.fileScans(exec).isEmpty,
      s"no live fact re-scan — the fact join is paid once at cache build:\n$p")
  }

  test("q_store_sales_window (DS moving aggregate): window over the month-grain aggregate, nation partitions") {
    val p = plan("q_store_sales_window")
    assert(p.contains("Window"), s"expected the moving-average window:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"must stay equi-keyed:\n$p")
    // the window's exchange is keyed on the nation partition (bounded
    // fan-out) and runs AFTER the month-grain aggregate — report-sized
    // rows, never a per-row window over the fact table
    assert("Exchange hashpartitioning\\(n_name".r.findAllIn(p).length >= 1,
      s"window must partition by nation:\n$p")
    assert(p.contains("partial_sum"), s"month aggregate must pre-aggregate map-side:\n$p")
    assert(!p.contains("rangeBetween") && !p.contains("RANGE BETWEEN"),
      s"the frame is ROWS over the aggregate grain:\n$p")
  }

  test("streaming dedup candidate join: batch side broadcast, signature store never shuffled") {
    import spark.implicits._
    // the store side must stay shuffle-free whatever its size: per-batch
    // incremental cost is only proportional to the batch if the join
    // broadcasts the (small) new-signatures side
    val newSigs = Seq((1L, 0, "a"), (2L, 1, "b")).toDF("doc_id", "band", "sig")
    val allSigs = Seq((1L, 0, "a"), (2L, 1, "b"), (3L, 0, "a")).toDF("doc_id", "band", "sig")
    val p = graft.streaming.StreamingDedup.candidatePairs(newSigs, allSigs)
      .queryExecution.executedPlan.toString
    assert(broadcasts(p) === 1, s"new side must broadcast:\n$p")
    // the only hash exchange is the candidate-pair distinct — output-sized,
    // never the store
    assert(shuffles(p) === 1, s"store side must not shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), s"must not sort-merge the store:\n$p")
  }
}

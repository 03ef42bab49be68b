package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.SparkEntry.Query
import graft.sources.SessionStores

/** Relational capability surface (SURVEY §2.2) over the TPC-H-ish fixtures.
  *
  * Numeric determinism rules for hash-exact oracle parity:
  *   - money sums go through DECIMAL: the inputs are exactly-2(or fewer)-
  *     decimal doubles, so `CAST(x AS DECIMAL(18,k))` recovers the exact
  *     rational on both engines regardless of rounding mode, the decimal sum
  *     is exact and order-independent, and the final cast to DOUBLE is the
  *     same correctly-rounded conversion in both engines;
  *   - `l_quantity` is integer-valued → double sums are exact at any order;
  *   - averages are written explicitly as sum/count (never the engine's
  *     AVG, whose accumulation strategy is engine-specific);
  *   - temporal outputs are formatted to strings (tz-representation parity).
  */
object RelationalQueries {

  import graft.sources.Tables.tbl

  /** SUM(l_extendedprice * (1 - l_discount)) — exact via DECIMAL(18,4). */
  private def revenue: Column =
    sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)))
      .cast("double")

  private val revenueSql =
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"

  /** Session-scoped shared moments relation serving BOTH q_profile and
    * q_corr: the union of their aggregate needs — per-column (count,
    * min, max, decimal sum, decimal sum-of-squares), per-pair decimal
    * cross sums, and the row count — computed in ONE aggregate pass
    * over ONE lineitem scan, cached as a single row (bounded by
    * contract: one row × 24 columns). Before r13 the two queries ran
    * near-identical moment passes over the same table and were the
    * board's top two bench costs (5.6 s combined); now the scan runs
    * once and both projections read the cached row. Same session-store
    * discipline as `TermStatsStore`/`StreamedIndex`: keyed by
    * (session, dir), dropped when the session stops.
    *
    * Determinism: every sum goes through DECIMAL (exact and
    * order-independent under any partitioning) and is cast to DOUBLE
    * once — see the object-level rules above.
    */
  private[graft] object LineitemMoments {
    val cols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs: Seq[(String, String)] = Seq(
      ("l_quantity", "l_extendedprice"),
      ("l_extendedprice", "l_discount"),
      ("l_discount", "l_tax"))

    def of(s: SparkSession, dir: String): DataFrame =
      SessionStores.memo(s, "moments:" + dir) {
        val aggs = cols.flatMap { c =>
          Seq(
            count(col(c)).as(s"nn_$c"),
            min(col(c)).cast("double").as(s"mn_$c"),
            max(col(c)).cast("double").as(s"mx_$c"),
            // precision <= 18 keeps the per-row cast Long-backed (compact
            // Decimal) — (30,8) was BigDecimal per row, ~2x the scan cost.
            // Exact: measures are <=2-dp with |x| < 1e6, squares/products
            // <=4-dp with |xy| < 1e11 — (18,6)/(18,4) hold them losslessly.
            sum(col(c).cast(DecimalType(18, 6))).cast("double").as(s"s_$c"),
            sum((col(c) * col(c)).cast(DecimalType(18, 4))).cast("double").as(s"q_$c"))
        } ++ pairs.zipWithIndex.map { case ((x, y), i) =>
          sum((col(x) * col(y)).cast(DecimalType(18, 4))).cast("double").as(s"sxy_$i")
        } :+ count(lit(1)).as("n")
        tbl(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
  }

  /** Session-scoped persisted customer-grain RETURNS relation serving
    * q_state_returns (the DS q1 shape): (c_custkey, c_name, n_name,
    * ret_dec) — the per-customer returned-revenue aggregate with its
    * customer/nation attribution. Persisted because the query has TWO
    * consumers of this relation (the result rows and the 25-row nation
    * average) and Spark shares no common subplan across DataFrame
    * lineage — without it the lineitem ⋈ orders fact aggregate runs
    * twice. Customer-grain ⇒ output-sized, never fact-sized; same
    * (session, dir) memo discipline as `LineitemMoments`.
    */
  private[graft] object CustReturns {
    def of(s: SparkSession, dir: String): DataFrame =
      SessionStores.memo(s, "cust_returns:" + dir) {
        tbl(s, dir, "lineitem").filter(col("l_returnflag") === "R")
          .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).as("ret_dec"))
          .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(tbl(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"), col("ret_dec"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
  }

  /** Session-scoped 25-row (r_name, n_name, rev, cnt) revenue LEAF
    * serving the three grouping-set queries (q_rollup_revenue,
    * q_cube_revenue, q_grouping_sets): all three ran the identical
    * 5-table join + (region, nation) pre-aggregate before their Expand —
    * the entire cost of each query, paid three times per suite (~1.4 s
    * each at sf0.1) for a byte-identical 25-row relation. Same
    * (session, dir) memo discipline as `LineitemMoments`/`CustReturns`
    * (r22, VERDICT #5); the grouping-set aggregates stay live per query
    * and the DECIMAL leaf partials keep the exactness contract.
    */
  private[graft] object RevenueLeaf {
    def of(s: SparkSession, dir: String): DataFrame =
      SessionStores.memo(s, "revenue_leaf:" + dir) {
        Seq("lineitem", "orders", "customer", "nation", "region")
          .foreach(t => tbl(s, dir, t).createOrReplaceTempView(s"graft_$t"))
        s.sql(
          """SELECT r_name, n_name,
            |  SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev,
            |  COUNT(*) AS cnt
            |FROM graft_lineitem
            |JOIN graft_orders   ON l_orderkey = o_orderkey
            |JOIN graft_customer ON o_custkey = c_custkey
            |JOIN graft_nation   ON c_nationkey = n_nationkey
            |JOIN graft_region   ON n_regionkey = r_regionkey
            |GROUP BY r_name, n_name""".stripMargin)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
  }

  /** Session-scoped shared QUANTILE relation serving the whole exact-
    * percentile family — q_percentiles (p25/p50/p75), q_winsorized
    * (p05/p95 clamp bounds) and q_mad (the p50 median its deviation
    * pass is anchored on). Before r14 the three queries ran FOUR
    * independent range-rank passes over the same (l_returnflag,
    * l_extendedprice) projection — three of the board's five largest
    * timed costs (7.8 s combined); the quantile positions differ but
    * the expensive part (range exchange + external sort + rank) is
    * identical, so ONE `Percentiles.exactQuantiles` pass computes all
    * five cut points and each query projects what it needs from the
    * cached group-count-sized (3-row) result. q_mad's SECOND pass
    * (ranking |x − median|) is genuinely its own data and stays timed
    * inside the query.
    *
    * PARQUET-backed (`servedPath`), NOT `.persist()`: q_mad feeds this
    * relation back into a second `RangeRank` pass, and an
    * `InMemoryRelation` anywhere under that pass's range exchange
    * SILENTLY DEFEATS exchange reuse -- the stats and rank branches
    * materialize two independently-sampled range layouts and the
    * joined offsets describe the wrong partitions (observed at sf0.01:
    * 944 rank-order violations, duplicate ranks, max rank > group
    * size; RangeRank now refuses cached-lineage input outright). A
    * store file read canonicalizes stably, so the served relation is
    * safe in any downstream position.
    */
  private[graft] object PriceQuantiles {
    def of(s: SparkSession, dir: String): DataFrame =
      SessionStores.parquet(s, "graft_quantiles", "price", dir) {
        graft.operators.Percentiles.exactQuantiles(
            tbl(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
            Seq("p05" -> 0.05, "p25" -> 0.25, "p50" -> 0.5,
              "p75" -> 0.75, "p95" -> 0.95))
          .coalesce(1)
      }

    /** The DEVIATION median per group (the MAD), one more named part of
      * the quantile store: the deviation relation depends only on
      * (corpus, group medians) — both store-known — so its range-rank
      * pass belongs in the build beside the price pass, and q_mad
      * becomes a 3-row store read like q_percentiles (r15 ask #5;
      * 2.0 s quiet → store-read cost). Anchored on the SERVED p50
      * (parquet read, never cached lineage — the RangeRank refusal
      * contract `of` documents).
      */
    def mad(s: SparkSession, dir: String): DataFrame =
      SessionStores.parquet(s, "graft_quantiles", "mad", dir) {
        val med = of(s, dir).select(col("l_returnflag"), col("p50").as("median"))
        val dev = tbl(s, dir, "lineitem")
          .join(broadcast(med), "l_returnflag")
          .select(col("l_returnflag"),
            abs(col("l_extendedprice") - col("median")).as("d"))
        graft.operators.Percentiles.exactQuantiles(dev, "l_returnflag", "d",
            Seq("mad" -> 0.5))
          .coalesce(1)
      }
  }

  /** Session-scoped StreamingGraph store holding the nation trade
    * graph's edge deltas ingested incrementally (`SessionStores.streamed`,
    * sliced on l_orderkey): each batch contributes its lineitem slice's
    * (src nation, dst nation, count) partial weights, which SUM to the
    * batch edge relation because counts are additive deltas.
    */
  private[graft] object GraphStores {
    def streamedStore(s: SparkSession, dir: String): String =
      SessionStores.streamed(s, "graft_graphstream", "store", dir) { (slice, path) =>
        graft.streaming.StreamingGraph.processBatch(
          nationTradeEdges(s, dir, Some(slice)), slice.id, path): Unit
      }
  }

  /** q1_agg's body, shared verbatim by the batch query and the
    * lineitem-fact-store streamed twin.
    */
  private def q1AggOf(li: DataFrame): DataFrame =
    li.filter(col("l_shipdate") <= lit("2001-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
        revenue.as("sum_disc_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
          .cast(DecimalType(18, 6))).cast("double").as("sum_charge"),
        (sum("l_quantity") / count(lit(1))).as("avg_qty"),
        (sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(col("l_discount").cast(DecimalType(18, 2))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** q_big_orders' body (TPC-H Q18), shared by the batch query and the
    * lineitem-fact-store streamed twin.
    */
  private def bigOrdersOf(s: SparkSession, dir: String, li: DataFrame): DataFrame = {
    val heavy = li
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total_qty"))
      .filter(col("total_qty") > 150)
    tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(heavy, "o_orderkey")
      .join(tbl(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
        col("c_name")), "o_custkey")
      .select(col("c_name"), col("o_custkey").as("c_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("total_qty").cast("double").as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  /** q_late_suppliers' body (TPC-H Q21), shared by the batch query and
    * the lineitem-fact-store streamed twin.
    */
  private def lateSuppliersOf(s: SparkSession, dir: String,
                              liRaw: DataFrame): DataFrame = {
    val li = liRaw.select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val late = li.filter(col("l_returnflag") === "R")
      .join(tbl(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey")), "l_orderkey")
      .select(col("l_orderkey"), col("l_suppkey"))
    val others = li.select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val lateOthers = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    late
      .join(others,
        col("l_orderkey") === col("ok") && col("l_suppkey") =!= col("sk"),
        "left_semi")
      .join(lateOthers,
        col("l_orderkey") === col("ok") && col("l_suppkey") =!= col("sk"),
        "left_anti")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(tbl(s, dir, "supplier").select(col("s_suppkey").as("l_suppkey"),
        col("s_name"), col("s_nationkey")), "l_suppkey")
      .join(tbl(s, dir, "nation").select(col("n_nationkey").as("s_nationkey"),
        col("n_name")), "s_nationkey")
      .select(col("s_name"), col("n_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** Streamed warehouse-fact ingest: the lineitem table accumulated as
    * idempotent micro-batches (`SessionStores.streamed`, sliced on
    * l_orderkey) through the generic `StreamingFacts` value store (the
    * doc/event ingest discipline extended to the TPC-H fact table).
    * The fixture carries NO surrogate key — even
    * the (orderkey, linenumber, partkey, suppkey) tuple collides once
    * at sf0.001 with different content — so `l_key` is the FULL-ROW
    * content digest over `to_json(struct(*))` — KEY-NAMED fields make
    * the encoding unambiguous even though Spark's to_json DROPS null
    * fields by default (an absent key can't equal any present key;
    * contrast concat_ws, which skips nulls positionally and lets
    * shifted separators collide two distinct rows): exact-once at
    * row-content grain (two truly identical fact rows would collapse;
    * none exist at any shipped SF, FactsStreamSpec pins the count so a
    * fixture regeneration that introduces one fails loudly). Dropped
    * at serve time. Build-once per process, guarded by the facts
    * subpath through `SessionStores.servedPath`: the build's compaction
    * clears the replay markers, so a second session's ingest would
    * append every batch again; fact-table-grain batches
    * keep their task parallelism (filesPerBatch = 0 — the coalesce(1)
    * default exists for SMALL per-batch appends).
    */
  private[graft] object LineitemStores {
    private def withKey(d: DataFrame): DataFrame =
      d.withColumn("l_key", md5(to_json(struct(d.columns.map(col): _*))))

    def store(s: SparkSession, dir: String): String = {
      lazy val d = withKey(tbl(s, dir, "lineitem"))
      SessionStores.streamed(s, "graft_listream", "store", dir,
          build = (path, ingest) => SessionStores.servedPath(s,
            graft.streaming.StreamingFacts.factsPath(path)) {
            ingest()
            // settle the store ONCE at build: the three warehouse twins
            // serve it on every timed read, and re-proving exact-once
            // with a full fact-table exchange per query is repeated work
            // that grows with the table — compaction collapses the
            // replay-residual window physically, and the clean marker
            // lets StreamingFacts.facts serve raw until the next append
            graft.streaming.StreamingFacts.compactStore(s, path, "l_key", d.schema)
          }: Unit) { (slice, path) =>
        graft.streaming.StreamingFacts.processBatch(
          d.filter(slice(col("l_orderkey"))), slice.id, path,
          "l_key", d.schema, filesPerBatch = 0): Unit
      }
    }

    def streamedLineitem(s: SparkSession, dir: String): DataFrame =
      graft.streaming.StreamingFacts.facts(s, store(s, dir),
        "l_key", withKey(tbl(s, dir, "lineitem")).schema).drop("l_key")

    val twins: graft.SparkEntry.FactTwins =
      graft.SparkEntry.FactTwins((s, dir) => tbl(s, dir, "lineitem"), streamedLineitem)

    /** Point-in-time read of the warehouse store: the fact relation as
      * of ingest batch `batchId` — the store is COMPACTED at build, so
      * this doubles as the living proof that maintenance preserves the
      * per-row batch stamps (`StreamingFacts.factsAsOf`'s contract).
      */
    def streamedLineitemAsOf(s: SparkSession, dir: String, batchId: Long): DataFrame =
      graft.streaming.StreamingFacts.factsAsOf(s, store(s, dir), batchId,
        "l_key", withKey(tbl(s, dir, "lineitem")).schema).drop("l_key")
  }

  /** q_promo_share's body (TPC-H Q14), shared by the batch query and
    * the lineitem-fact-store streamed twin.
    */
  private def promoShareOf(s: SparkSession, dir: String, liRaw: DataFrame): DataFrame = {
    val li = liRaw.select(col("l_partkey"),
      date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM-dd").as("month"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 4)).as("rev"))
    val pt = tbl(s, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_type"))
    li.join(pt, "l_partkey")
      .groupBy("month")
      .agg(sum(col("rev")).cast("double").as("revenue"),
        coalesce(sum(when(col("p_type") === "PROMO", col("rev"))),
          lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 4)))
          .cast("double").as("prev"))
      .select(col("month"), col("revenue"),
        round(lit(100) * col("prev") / col("revenue"), 6).as("promo_share"))
  }

  /** q_important_parts' body (TPC-H Q11), shared by the batch query and
    * the lineitem-fact-store streamed twin.
    */
  private def importantPartsOf(s: SparkSession, dir: String, liRaw: DataFrame): DataFrame = {
    val li = liRaw.select(col("l_partkey"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 4)).as("rev"))
    val per = li.groupBy("l_partkey")
      .agg(sum(col("rev")).cast(DecimalType(18, 4)).as("value"))
    val tot = per.agg(sum(col("value")).cast(DecimalType(20, 4)).as("total"),
      count(lit(1)).as("np"))
    per.crossJoin(tot)
      .filter(col("value") * col("np") >
        col("total") * lit(new java.math.BigDecimal("1.2")))
      .join(tbl(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_name")), "l_partkey")
      .select(col("l_partkey").as("p_partkey"), col("p_name"),
        col("value").cast("double").as("value"))
  }

  /** q_disjunctive_rev's body (TPC-H Q19), shared by the batch query
    * and the lineitem-fact-store streamed twin.
    */
  private def disjunctiveRevOf(s: SparkSession, dir: String, liRaw: DataFrame): DataFrame = {
    val li = liRaw.select(col("l_partkey"), col("l_quantity"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 4)).as("rev"))
    val pt = tbl(s, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"), col("p_size"))
    val pred =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 35))
    li.join(pt, "l_partkey").filter(pred)
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev")).cast("double").as("revenue"))
  }

  /** q_priority_lines' body (TPC-H Q12), shared by the batch query and
    * the lineitem-fact-store streamed twin.
    */
  private def priorityLinesOf(s: SparkSession, dir: String, li: DataFrame): DataFrame = {
    val hi = Seq("1-URGENT", "2-HIGH")
    val l = li
      .filter(col("l_returnflag").isin("A", "R") &&
        col("l_shipdate") >= lit("1999-01-01") &&
        col("l_shipdate") < lit("2000-01-01"))
      .select(col("l_orderkey"), col("l_returnflag"))
    l.join(tbl(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("o_orderpriority").isin(hi: _*), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin(hi: _*), 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** q_top_supplier's body (TPC-H Q15), shared by the batch query and
    * the lineitem-fact-store streamed twin.
    */
  private def topSupplierOf(s: SparkSession, dir: String, li: DataFrame): DataFrame = {
    val rev = li
      .filter(col("l_shipdate") >= lit("1999-01-01") &&
        col("l_shipdate") < lit("1999-04-01"))
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 4))).as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    rev.crossJoin(mx)
      .filter(col("total_revenue") === col("mx"))
      .join(tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
        "s_suppkey")
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q_small_qty_rev's body (TPC-H Q17), shared by the batch query and
    * the lineitem-fact-store streamed twin.
    */
  private def smallQtyRevOf(li: DataFrame): DataFrame = {
    val pa = li.groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("s"),
        count(lit(1)).as("n"))
    li.select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("price"))
      .join(pa, "l_partkey")
      .filter(col("s").cast("double") > col("l_quantity") * 5 * col("n"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("price")).cast("double") / 7.0, 6).as("avg_yearly"))
  }

  /** q_excess_stock's body (TPC-H Q20), shared by the batch query and
    * the lineitem-fact-store streamed twin — see the registration
    * comment for the decorrelation and grain rationale.
    */
  private def excessStockOf(s: SparkSession, dir: String, li: DataFrame): DataFrame = {
    val prod = tbl(s, dir, "part").filter(col("p_name") === "small gizmo")
      .select(col("p_partkey").as("l_partkey"))
    val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2))
    val cells = li
      .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
        col("l_shipdate"), col("l_quantity").cast(DecimalType(18, 2)).as("qty"))
      .join(prod, "l_partkey") // dim-sized side: AQE/stats pick broadcast
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(
        coalesce(sum(when(col("l_returnflag") === "R", col("qty"))), zero)
          .as("avail"),
        coalesce(sum(when(col("l_shipdate") >= lit("1998-01-01") &&
          col("l_shipdate") < lit("2002-01-01"), col("qty"))), zero)
          .as("demand"))
      .filter(col("demand") > zero &&
        col("avail") * lit(new java.math.BigDecimal(2)) > col("demand"))
    tbl(s, dir, "supplier")
      .join(cells.select("s_suppkey"), Seq("s_suppkey"), "left_semi")
      .join(broadcast(tbl(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"))
      .orderBy("s_name")
  }

  /** q_returned_top's body (TPC-H Q10), shared by the batch query and
    * the lineitem-fact-store streamed twin.
    */
  private def returnedTopOf(s: SparkSession, dir: String, li: DataFrame): DataFrame = {
    val l = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4)).as("rev"))
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01") &&
        col("o_orderdate") < lit("1999-07-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .join(tbl(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_nationkey")), "c_custkey")
      .join(broadcast(tbl(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** q_order_priority's body (TPC-H Q4), shared by the batch query and
    * the lineitem-fact-store streamed twin. "Late" is the fixture's
    * problem flag l_returnflag = 'R' (no commit/receipt dates in the
    * schema — the q_late_suppliers proxy); the EXISTS is a left SEMI on
    * the order key, run AFTER the quarter filter collapses orders.
    */
  private def orderPriorityOf(s: SparkSession, dir: String, li: DataFrame): DataFrame =
    tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1999-07-01") &&
        col("o_orderdate") < lit("1999-10-01"))
      .join(li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** q_forecast_rev's body (TPC-H Q6), shared by the batch query and
    * the lineitem-fact-store streamed twin: the pure-scan aggregate —
    * every predicate reaches the parquet scan (PlanSpec pins the
    * pushdown), no join anywhere. Discount bounds go through the
    * identical double literals on both engines.
    */
  private def forecastRevOf(li: DataFrame): DataFrame =
    li.filter(col("l_shipdate") >= lit("1999-01-01") &&
        col("l_shipdate") < lit("2000-01-01") &&
        col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07) &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * col("l_discount"))
          .cast(DecimalType(18, 4))).cast("double").as("revenue"))

  /** q_nation_volume's body (TPC-H Q7), shared by the batch query and
    * the lineitem-fact-store streamed twin: trade volume between two
    * nations in both directions per ship year. The two-nation filter
    * lands on the BROADCAST dimension sides (supplier/customer join
    * the name-filtered nation dim first), so the fact scan's join
    * probes collapse before the orders join moves data.
    */
  private def nationVolumeOf(s: SparkSession, dir: String, li: DataFrame): DataFrame = {
    val pair = Seq("NATION_18", "NATION_19")
    val nat = tbl(s, dir, "nation").filter(col("n_name").isin(pair: _*))
    val sup = tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(nat.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))), "s_nationkey")
    val cust = tbl(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(nat.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("cust_nation"))), "c_nationkey")
    li.filter(col("l_shipdate") >= lit("1998-01-01") &&
        col("l_shipdate") < lit("2000-01-01"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4)).as("rev"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(tbl(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** q_market_share's body (TPC-H Q8): NATION_2's share of ASIA's
    * ECONOMY-part revenue per order year. Scope dims (region-filtered
    * customer nations, type-filtered parts) collapse their join sides
    * early; numerator and denominator are ONE conditional aggregate
    * (never two passes), DECIMAL sums, the division float-last.
    */
  private def marketShareOf(s: SparkSession, dir: String, li: DataFrame): DataFrame = {
    val asiaNat = tbl(s, dir, "nation")
      .join(broadcast(tbl(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nationkey"))
    val pt = tbl(s, dir, "part").filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey").as("l_partkey"))
    val supNat = tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(tbl(s, dir, "nation")
        .select(col("n_nationkey").as("s_nationkey"),
          col("n_name").as("supp_nation"))), "s_nationkey")
      .select(col("s_suppkey").as("l_suppkey"), col("supp_nation"))
    val ord = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01") &&
        col("o_orderdate") < lit("2000-01-01"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val cust = tbl(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(asiaNat), "c_nationkey")
      .select("c_custkey")
    val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 4))
    li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4)).as("rev"))
      .join(pt, "l_partkey")
      .join(broadcast(supNat), "l_suppkey")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_year")
      .agg(sum(col("rev")).as("total"),
        coalesce(sum(when(col("supp_nation") === "NATION_2", col("rev"))), zero)
          .as("nrev"))
      .select(col("o_year"),
        round(col("nrev").cast("double") / col("total").cast("double"), 6)
          .as("mkt_share"))
      .orderBy("o_year")
  }

  /** q_product_profit's body (TPC-H Q9), shared by the batch query and
    * the lineitem-fact-store streamed twin: per (supplier nation, ship
    * year) profit over a product-name slice. The schema has no
    * ps_supplycost, so cost is the retail-price-linked proxy
    * 0.1·p_retailprice·l_quantity — a ≤3dp rational both engines
    * recover exactly via the same double product → DECIMAL(18,4) cast
    * (the object-level parity rules); profit subtracts in DECIMAL.
    */
  private def productProfitOf(s: SparkSession, dir: String, li: DataFrame): DataFrame = {
    val pt = tbl(s, dir, "part").filter(col("p_name").contains("gizmo"))
      .select(col("p_partkey").as("l_partkey"), col("p_retailprice"))
    val supNat = tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(tbl(s, dir, "nation")
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
        "s_nationkey")
      .select(col("s_suppkey").as("l_suppkey"), col("n_name").as("nation"))
    li.select(col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("o_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4)).as("rev"),
        col("l_quantity"))
      .join(pt, "l_partkey")
      .join(broadcast(supNat), "l_suppkey")
      .select(col("nation"), col("o_year"),
        (col("rev") - (col("p_retailprice") * col("l_quantity") * lit(0.1))
          .cast(DecimalType(18, 4))).as("profit"))
      .groupBy("nation", "o_year")
      .agg(sum(col("profit")).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** q_supplier_cnt's body (TPC-H Q16): distinct suppliers per part
    * (brand, type, size) bucket, excluding complaint suppliers. The
    * exclusion is the classic `NOT IN` with its standard null-safe
    * decorrelation: the subquery side carries an explicit IS NOT NULL
    * (the canonical rewrite — with no NULLs in the set, `NOT IN` over a
    * non-NULL probe key ≡ anti join) and the probe side drops NULL keys
    * (a NULL probe can never satisfy `NOT IN` under three-valued
    * logic, which a plain left_anti would wrongly keep). Both guards
    * are no-ops on non-null key columns but make the plan's LeftAnti
    * EQUAL to `NOT IN` rather than coincide with it. The complaint
    * relation (s_acctbal < 0, the fixture's complaint analog) is a
    * bounded dim planned as a broadcast anti join; the (partkey,
    * suppkey) pair relation comes pre-distinct from the fact table so
    * count(DISTINCT) moves pair-grain rows only.
    */
  private def supplierCntOf(s: SparkSession, dir: String, li: DataFrame): DataFrame = {
    val sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35)
    val pt = tbl(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey").as("l_partkey"),
        col("p_brand"), col("p_type"), col("p_size"))
    val complaints = tbl(s, dir, "supplier")
      .filter(col("s_acctbal") < 0 && col("s_suppkey").isNotNull)
      .select(col("s_suppkey").as("l_suppkey"))
    li.select("l_partkey", "l_suppkey").distinct()
      .filter(col("l_suppkey").isNotNull)
      .join(broadcast(complaints), Seq("l_suppkey"), "left_anti")
      .join(pt, "l_partkey")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** q_global_sales_opp's body (TPC-H Q22): positive-balance customers
    * of selected country codes (the fixture's code = the last two
    * c_name digits — no phone column) above the GLOBAL average balance,
    * with no RECENT order (every fixture customer has SOME order, so
    * the anti-join runs against the 2000+ window). The scalar average
    * rides a 1-row crossJoin (AQE broadcasts it); balance sums DECIMAL.
    */
  private def globalSalesOppOf(s: SparkSession, dir: String): DataFrame = {
    val codes = Seq("13", "31", "23", "29", "30", "18", "17")
    val cust = tbl(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"),
        substring(col("c_name"), 17, 2).as("cntrycode"))
      .filter(col("cntrycode").isin(codes: _*))
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1))).as("avg_bal"))
    val recent = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01"))
      .select(col("o_custkey").as("c_custkey"))
    cust.crossJoin(avgBal)
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, Seq("c_custkey"), "left_anti")
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double")
          .as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** q_min_cost_supp's body (TPC-H Q2): the regional min-cost supplier
    * per part. The schema has no partsupp, so the supply-cost relation
    * derives from the fact table — min DECIMAL(18,2) line price per
    * (part, supplier) pair (exact, so the per-part min SET is
    * bit-stable). The classic correlated regional-min subquery is
    * DECORRELATED to a per-part min WINDOW over the region-scoped pair
    * relation (r22: one subtree, one fact pass — the aggregate-and-
    * equi-join-back form planned the whole pair build twice) — never a
    * nested loop (PlanSpec pins it).
    */
  private def minCostSuppOf(s: SparkSession, dir: String): DataFrame = {
    val ps = tbl(s, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice").cast(DecimalType(18, 2))).as("cost"))
    val supEu = tbl(s, dir, "supplier")
      .join(broadcast(tbl(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"),
        col("s_acctbal"), col("n_name"))
    val pt = tbl(s, dir, "part")
      .filter(col("p_size") === 15)
      .select(col("p_partkey").as("l_partkey"), col("p_name"))
    val scoped = ps.join(broadcast(supEu), "l_suppkey").join(pt, "l_partkey")
    // per-part min as a WINDOW over scoped, not an aggregate-and-join-
    // back: the r21 self-join referenced scoped twice, the min side's
    // partial aggregate re-keyed the exchange (l_partkey AS mk, narrower
    // payload), so the canonical forms differed, nothing was reused, and
    // the executed plan ran the full lineitem (part, supplier) MIN
    // aggregate + dimension joins TWICE (r22 pin: 10 parquet scans,
    // ReusedExchange 0). The window keeps ONE subtree — one fact pass,
    // one l_partkey exchange, no join-back exchange+sort (guide §2.4).
    // Selected rows are identical (cost = min over the part's group ≡
    // the (l_partkey, cost) equi-join-back on the groupBy(mk) min).
    // Partition fan is per-PART — corpus-cardinality, never a hot key —
    // unlike the bounded-fan windows the house style avoids.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    scoped.withColumn("min_cost", min(col("cost")).over(w))
      .filter(col("cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"), col("p_name"),
        col("cost").cast("double").as("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** The nation trade graph's edge relation (supplier nation →
    * customer nation, w = lineitem count) over an optional lineitem
    * slice — the full relation for q_pagerank/q_ppr, the slices for the
    * streamed twin's delta batches.
    */
  private def nationTradeEdges(s: SparkSession, dir: String,
                               slice: Option[SessionStores.Slice] = None): DataFrame = {
    val liAll = tbl(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val li = slice.fold(liAll)(b => liAll.filter(b(col("l_orderkey"))))
    val sup = tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val ord = tbl(s, dir, "orders").select("o_orderkey", "o_custkey")
    val cust = tbl(s, dir, "customer").select("c_custkey", "c_nationkey")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** The nation trade edge relation persisted once per (process,
    * corpus) — FIVE graph queries (q_pagerank, q_ppr, q_hits, q_bfs,
    * q_triangles) consume it, and the q5-style join chain that builds
    * it is the data-proportional part of each; the relation itself is
    * ≤ nations² rows at any scale. Same store discipline as the fuzzy
    * batch pair store and DedupStore.
    */
  private[graft] def nationEdgesStore(s: SparkSession, dir: String): DataFrame =
    SessionStores.parquet(s, "graft_nationgraph", "edges", dir)(nationTradeEdges(s, dir))

  /** The streamed nation-graph fixpoints — shared by the registered
    * queries and Bench's untimed store-build warms.
    */
  private[graft] def streamedRanks(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingGraph.ranks(s, GraphStores.streamedStore(s, dir),
      tbl(s, dir, "nation").select(col("n_nationkey").as("node")), iters = 8)

  private[graft] def streamedHits(s: SparkSession, dir: String): DataFrame = {
    val nodes = tbl(s, dir, "nation").select(col("n_nationkey").as("node"))
    graft.streaming.StreamingGraph.derived(s, GraphStores.streamedStore(s, dir),
      "hits")(e => graft.operators.Graph.hits(e.select("src", "dst"), nodes, iters = 4))
  }

  private[graft] def streamedBfs(s: SparkSession, dir: String): DataFrame = {
    val nodes = tbl(s, dir, "nation").select(col("n_nationkey").as("node"))
    graft.streaming.StreamingGraph.derived(s, GraphStores.streamedStore(s, dir),
      "bfs")(e => graft.operators.Graph.shortestHops(
        e.select("src", "dst"), nodes, source = 0L, maxHops = 6))
  }

  /** q_pagerank's oracle — shared verbatim by the streamed twin (the
    * accumulated delta store must serve the batch fixpoint).
    */
  /** One Bellman-Ford relaxation round as CTEs (mirror of
    * `Graph.shortestPaths`): relax every known distance across the
    * edges, then merge min per node. Expects `e(src,dst,w)` and
    * `d$i(node,dist)` in scope. Integer arithmetic — no float
    * protocol needed.
    */
  private def ssspIterSql(i: Int): String =
    s"""r$i AS (
       |  SELECT e.dst AS node, min(d$i.dist + e.w) AS dist
       |  FROM d$i JOIN e ON d$i.node = e.src GROUP BY e.dst
       |), d${i + 1} AS (
       |  SELECT node, min(dist) AS dist FROM (
       |    SELECT node, dist FROM d$i UNION ALL SELECT node, dist FROM r$i
       |  ) u$i GROUP BY node
       |)""".stripMargin

  private lazy val ssspOracleSql: String =
    s"""WITH e AS (
       |  SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2
       |), d0 AS (
       |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
       |), ${(0 until 6).map(ssspIterSql).mkString(", ")}
       |SELECT n_name, dist FROM d6 JOIN nation ON node = n_nationkey
       |ORDER BY dist, n_name""".stripMargin

  /** q_bfs' oracle — shared verbatim by the streamed twin. */
  private val bfsOracleSql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |), walk(node, hops) AS (
       |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  UNION
       |  SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON w.node = e.src
       |  WHERE w.hops < 6
       |), d AS (
       |  SELECT node, min(hops) AS hops FROM walk GROUP BY node
       |)
       |SELECT n_name, hops FROM d JOIN nation ON node = n_nationkey
       |ORDER BY hops, n_name""".stripMargin

  /** q_hits' oracle — shared verbatim by the streamed twin. Lazy:
    * references hitsIterSql declared below.
    */
  private lazy val hitsOracleSql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |), nodes AS (
       |  SELECT n_nationkey AS node FROM nation
       |), h0 AS (
       |  SELECT node, CAST(1 AS DOUBLE) AS h FROM nodes
       |), ${(0 until 4).map(hitsIterSql).mkString(", ")}
       |SELECT n_name, h4.h AS hub, a4.a AS auth
       |FROM h4 JOIN a4 USING (node) JOIN nation ON node = n_nationkey
       |ORDER BY hub DESC, n_name""".stripMargin

  // lazy: references prInitSql/prIterSql declared further down the object
  private lazy val pagerankOracleSql: String =
    s"""WITH e0 AS (
       |  SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2
       |), ow AS (
       |  SELECT src, sum(w) AS outw FROM e0 GROUP BY src
       |), e AS (
       |  SELECT e0.src, dst, w, outw FROM e0 JOIN ow USING (src)
       |), nodes AS (
       |  SELECT n_nationkey AS node FROM nation
       |), $prInitSql, ${(0 until 8).map(prIterSql).mkString(", ")}
       |SELECT n_name, pr FROM r8 JOIN nation ON node = n_nationkey
       |ORDER BY pr DESC, n_name""".stripMargin

  /** Per-column aggregate + per-column output row of the q_profile
    * oracle (mirror of the struct-explode form).
    */
  private def profileAggSql(c: String): String =
    s"""count($c) AS nn_$c, CAST(min($c) AS DOUBLE) AS mn_$c,
       |         CAST(max($c) AS DOUBLE) AS mx_$c,
       |         CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE) AS s_$c,
       |         CAST(SUM(CAST($c*$c AS DECIMAL(18,4))) AS DOUBLE) AS q_$c""".stripMargin

  private def profileRowSql(c: String): String =
    s"""SELECT '$c' AS column_name, n - nn_$c AS n_nulls,
       |       mn_$c AS min_val, mx_$c AS max_val,
       |       round(s_$c / nn_$c, 6) AS mean,
       |       round(sqrt((q_$c - s_$c*s_$c/nn_$c) / (nn_$c - 1)), 6) AS stddev
       |FROM m""".stripMargin

  /** One PageRank power iteration as CTEs (mirror of `Graph.pageRank`):
    * DECIMAL(27,12)-summed inflow (order-independent), 6-dp rounded
    * rank. Literals go through text→DOUBLE casts so DuckDB's
    * decimal-literal parsing can't diverge from Spark's double lits,
    * and n comes from the `nn(cnt)` scalar CTE — never a hardcoded
    * node count — with the SAME double-op sequence as the engine's
    * `(1.0 - damping) / n`. Expects CTEs `e(src,dst,w,outw)`,
    * `nodes(node)`, `nn(cnt)`, `r$i(node,pr)` in scope; shared by the
    * nation-graph and doc-graph PageRank oracles.
    */
  private[queries] def prIterSql(i: Int): String =
    s"""inf$i AS (
       |  SELECT e.dst AS node,
       |         CAST(SUM(CAST(r.pr * e.w / e.outw AS DECIMAL(27,12))) AS DOUBLE) AS inflow
       |  FROM e JOIN r$i r ON e.src = r.node GROUP BY e.dst
       |), r${i + 1} AS (
       |  SELECT n.node,
       |         round((CAST('1' AS DOUBLE) - CAST('0.85' AS DOUBLE)) / nn.cnt
       |               + 0.85 * coalesce(inflow, CAST(0 AS DOUBLE)), 6) AS pr
       |  FROM nodes n CROSS JOIN nn LEFT JOIN inf$i USING (node)
       |)""".stripMargin

  /** The shared r0 + nn preamble of a PageRank oracle (uniform 1/n
    * init, n computed in SQL).
    */
  private[queries] val prInitSql: String =
    s"""nn AS (
       |  SELECT count(*) AS cnt FROM nodes
       |), r0 AS (
       |  SELECT node, CAST('1' AS DOUBLE) / cnt AS pr FROM nodes CROSS JOIN nn
       |)""".stripMargin

  /** One HITS iteration as CTEs (mirror of `Graph.hits`): auth
    * half-step from h$i, then hub half-step from the fresh a${i+1};
    * per-node sums and L1 norms through DECIMAL(27,12), 6-dp rounds,
    * identical coalesce/divide op order. Expects `e(src,dst)`,
    * `nodes(node)`, `h$i(node,h)` in scope.
    */
  private[queries] def hitsIterSql(i: Int): String =
    s"""ar$i AS MATERIALIZED (
       |  SELECT e.dst AS node,
       |         CAST(SUM(CAST(h.h AS DECIMAL(27,12))) AS DOUBLE) AS ar
       |  FROM e JOIN h$i h ON e.src = h.node GROUP BY e.dst
       |), an$i AS MATERIALIZED (
       |  SELECT coalesce(CAST(SUM(CAST(ar AS DECIMAL(27,12))) AS DOUBLE),
       |                  CAST(1 AS DOUBLE)) AS an FROM ar$i
       |), a${i + 1} AS MATERIALIZED (
       |  SELECT n.node,
       |         round(coalesce(ar, CAST(0 AS DOUBLE)) / an, 6) AS a
       |  FROM nodes n LEFT JOIN ar$i USING (node) CROSS JOIN an$i
       |), hr$i AS MATERIALIZED (
       |  SELECT e.src AS node,
       |         CAST(SUM(CAST(a.a AS DECIMAL(27,12))) AS DOUBLE) AS hr
       |  FROM e JOIN a${i + 1} a ON e.dst = a.node GROUP BY e.src
       |), hn$i AS MATERIALIZED (
       |  SELECT coalesce(CAST(SUM(CAST(hr AS DECIMAL(27,12))) AS DOUBLE),
       |                  CAST(1 AS DOUBLE)) AS hn FROM hr$i
       |), h${i + 1} AS MATERIALIZED (
       |  SELECT n.node,
       |         round(coalesce(hr, CAST(0 AS DOUBLE)) / hn, 6) AS h
       |  FROM nodes n LEFT JOIN hr$i USING (node) CROSS JOIN hn$i
       |)""".stripMargin

  /** Personalized variant of [[prIterSql]]: the per-node teleport base
    * comes from the `nb(node, base)` CTE (seeds get (1−d)/|S|, others
    * 0) instead of the uniform scalar.
    */
  private def pprIterSql(i: Int): String =
    s"""inf$i AS (
       |  SELECT e.dst AS node,
       |         CAST(SUM(CAST(r.pr * e.w / e.outw AS DECIMAL(27,12))) AS DOUBLE) AS inflow
       |  FROM e JOIN r$i r ON e.src = r.node GROUP BY e.dst
       |), r${i + 1} AS (
       |  SELECT n.node,
       |         round(n.base + 0.85 * coalesce(inflow, CAST(0 AS DOUBLE)), 6) AS pr
       |  FROM nb n LEFT JOIN inf$i USING (node)
       |)""".stripMargin

  /** Analytic window over event time — shared by q_user_lag and its
    * streamed twin (the `AnalysisQueries` behavioral-family pattern).
    */
  private def userLagOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    events.select(
      col("event_id"), col("user_id"), col("value"),
      lag("value", 1).over(w).as("prev_value"),
      row_number().over(w).cast("long").as("event_no"))
  }

  private val userLagOracleSql: String =
    """SELECT event_id, user_id, value,
      |       lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
      |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS event_no
      |FROM events""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q3-style: selective filters pushed to all three scans, two joins
    // (customer side broadcast-able), top-10 by revenue.
    "q3_join" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
      val l = tbl(s, dir, "lineitem").filter(col("l_shipdate") > lit("1997-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5-style: 4-way join through the dimension chain, revenue per
    // customer nation. region/nation are bounded-size dims (25/5 rows at
    // ANY scale factor) → explicit broadcast; customer GROWS with sf, so
    // its join strategy is left to AQE/size thresholds — a hard-coded
    // broadcast hint there is a driver-OOM time bomb at 100 TB.
    "q5_multijoin" -> ((s, dir) => {
      val r = tbl(s, dir, "region")
      val n = tbl(s, dir, "nation")
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(revenue.as("revenue"), count(lit(1)).as("n_lineitems"))
    }),
  )

  val queriesExtra: Map[String, Query] = Map[String, Query](
    // JOIN-KEY SKEW diagnostics (the statistics pass that feeds the
    // salting/AQE-skew decision q_salted_join acts on): per candidate
    // join key, NDV, hottest-key frequency and the skew factor
    // max_f / (n/ndv) — one aggregate per key (map-side partials; the
    // per-key relation is ndv-sized). Three stats passes by design:
    // this IS the offline stats-collection job.
    "q_skew_report" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      def statsOf(c: String) =
        li.groupBy(col(c).as("k")).agg(count(lit(1)).as("f"))
          .agg(count(lit(1)).as("ndv"), sum(col("f")).cast("long").as("n"),
            max(col("f")).cast("long").as("max_f"))
          .select(lit(c).as("join_key"), col("ndv"), col("n"), col("max_f"),
            round(col("max_f").cast("double") * col("ndv") / col("n"), 6)
              .as("skew_factor"))
      statsOf("l_orderkey").unionByName(statsOf("l_partkey"))
        .unionByName(statsOf("l_suppkey"))
    }),

    // STORE TIME-TRAVEL: the Q1 pricing summary over the warehouse fact
    // store AS OF ingest batch 1 of 3 — exactly what a `facts` read
    // would have served once batch 1 committed (the mod-3 order-key
    // slices 0 and 1). The store was compacted at build, so a green row
    // here is also the proof that maintenance preserves the per-row
    // `_gbatch` stamps time-travel filters on; the oracle recomputes
    // the slice independently from the raw table.
    "q_facts_asof" -> ((s, dir) =>
      q1AggOf(LineitemStores.streamedLineitemAsOf(s, dir, 1L))),

    // TPC-H Q2 shape (min-cost regional supplier): the correlated
    // regional-min decorrelated to aggregate-then-equi-join over a
    // fact-derived supply-cost relation — see minCostSuppOf.
    "q_min_cost_supp" -> ((s, dir) => minCostSuppOf(s, dir)),

    // TPC-H Q8 shape (national market share): numerator and denominator
    // in ONE conditional aggregate over the region/type-scoped join.
    "q_market_share" -> ((s, dir) =>
      marketShareOf(s, dir, tbl(s, dir, "lineitem"))),

    // TPC-H Q16 shape (supplier-count audit): NOT IN complaint
    // exclusion + count-distinct over the pre-distinct pair relation.
    "q_supplier_cnt" -> ((s, dir) =>
      supplierCntOf(s, dir, tbl(s, dir, "lineitem"))),

    // TPC-H Q22 shape (global sales opportunity): name-code prefix +
    // global-average scalar + anti-join against recent orders.
    "q_global_sales_opp" -> ((s, dir) => globalSalesOppOf(s, dir)),

    // CBO join-cardinality estimation (the statistics pass an optimizer
    // runs before picking a join strategy): HLL NDVs + the containment
    // formula, checked against the TRUE cardinality from two key-grained
    // aggregates — deterministic bound flags per the HLL oracle protocol.
    "q_join_card" -> ((s, dir) =>
      graft.operators.Sketches.joinCardinalityChecked(
        tbl(s, dir, "orders"), "o_orderkey",
        tbl(s, dir, "lineitem"), "l_orderkey")),

    // Deequ-style validation suite: six constraints over orders computed
    // in ONE aggregate pass (operators/Validation.scala) — completeness,
    // key uniqueness, domain compliance, value bounds. Ratios are exact
    // (integer-valued doubles divided once) so both engines agree
    // bit-for-bit.
    "q_validate" -> ((s, dir) => {
      import graft.operators.Validation._
      run(tbl(s, dir, "orders"), Seq(
        completeness("o_custkey"),
        uniqueness("o_orderkey"),
        compliance("status_domain",
          col("o_orderstatus").isin("O", "F", "P")),
        minBound("o_totalprice", atLeast = 0.0),
        distinctAtMost("o_orderpriority", atMost = 5L),
        compliance("priority_nonempty", length(col("o_orderpriority")) > 0)))
    }),

    // One-pass numeric column profiler (the data-exploration complement
    // of q_validate): null counts, min/max, mean, sample stddev for all
    // four lineitem measures, projected from the SHARED session-scoped
    // moments row (one aggregate pass over one scan serves this AND
    // q_corr — see LineitemMoments). The mean/stddev arithmetic is the
    // identical double-op sequence on both engines.
    "q_profile" -> ((s, dir) => {
      val rows = LineitemMoments.cols.map { c =>
        val nn = col(s"nn_$c"); val sm = col(s"s_$c"); val sq = col(s"q_$c")
        struct(lit(c).as("column_name"),
          (col("n") - nn).as("n_nulls"),
          col(s"mn_$c").as("min_val"), col(s"mx_$c").as("max_val"),
          round(sm / nn, 6).as("mean"),
          round(sqrt((sq - sm * sm / nn) / (nn - lit(1))), 6).as("stddev"))
      }
      LineitemMoments.of(s, dir)
        .select(explode(array(rows: _*)).as("r")).select(col("r.*"))
    }),

    // Bivariate statistics: Pearson correlation for selected lineitem
    // measure pairs, projected from the same shared moments row as
    // q_profile (all moment sums exact order-independent DECIMAL; the
    // correlation formula is then the identical double-op sequence on
    // both engines, never the engine's CORR whose accumulation is
    // implementation-specific).
    "q_corr" -> ((s, dir) => {
      val rows = LineitemMoments.pairs.zipWithIndex.map { case ((x, y), i) =>
        val (sx, sy, qx, qy, sxy) =
          (col(s"s_$x"), col(s"s_$y"), col(s"q_$x"), col(s"q_$y"), col(s"sxy_$i"))
        val nn = col("n")
        struct(lit(s"$x~$y").as("pair"),
          round((nn * sxy - sx * sy) /
            (sqrt(nn * qx - sx * sx) * sqrt(nn * qy - sy * sy)), 6).as("r"))
      }
      LineitemMoments.of(s, dir)
        .select(explode(array(rows: _*)).as("e")).select(col("e.*"))
    }),

    // Simple linear regression (OLS fit per measure pair) from the
    // SAME shared moments row as q_profile/q_corr — zero additional
    // scans: slope/intercept/r² are closed-form in the exact DECIMAL
    // moment sums, and the formulas are the identical double-op
    // sequence on both engines (never the engine's REGR_* aggregates,
    // whose accumulation is implementation-specific).
    "q_linreg" -> ((s, dir) => {
      val rows = LineitemMoments.pairs.zipWithIndex.map { case ((x, y), i) =>
        val (sx, sy, qx, qy, sxy) =
          (col(s"s_$x"), col(s"s_$y"), col(s"q_$x"), col(s"q_$y"), col(s"sxy_$i"))
        val nn = col("n")
        val slope = (nn * sxy - sx * sy) / (nn * qx - sx * sx)
        val r = (nn * sxy - sx * sy) /
          (sqrt(nn * qx - sx * sx) * sqrt(nn * qy - sy * sy))
        struct(lit(s"$y ~ $x").as("fit"),
          round(slope, 6).as("slope"),
          round((sy - slope * sx) / nn, 6).as("intercept"),
          round(r * r, 6).as("r2"))
      }
      LineitemMoments.of(s, dir)
        .select(explode(array(rows: _*)).as("e")).select(col("e.*"))
    }),

    // z-score outlier counts per measure (the anomaly-detection gate a
    // validation suite runs after profiling): ONE lineitem scan joined
    // with the broadcast 1-row moments relation, counting rows beyond
    // 3 sample standard deviations. Mean/std derive from the shared
    // moments with the identical arithmetic as q_profile.
    "q_outliers" -> ((s, dir) => {
      val aggs = LineitemMoments.cols.map { c =>
        val nn = col(s"nn_$c"); val sm = col(s"s_$c"); val sq = col(s"q_$c")
        val mean = sm / nn
        val std = sqrt((sq - sm * sm / nn) / (nn - lit(1)))
        sum(when(abs(col(c) - mean) > lit(3.0) * std, 1L).otherwise(0L))
          .as(s"o_$c")
      }
      val one = tbl(s, dir, "lineitem")
        .crossJoin(broadcast(LineitemMoments.of(s, dir)))
        .agg(aggs.head, aggs.tail: _*)
      val rows = LineitemMoments.cols.map { c =>
        struct(lit(c).as("column_name"), col(s"o_$c").as("n_outliers"))
      }
      one.select(explode(array(rows: _*)).as("e")).select(col("e.*"))
    }),

    // Weighted PageRank over the nation trade graph (supplier nation →
    // customer nation, edge weight = lineitem count): the iterative
    // graph-analytics family. Edge build is the q5-style join chain;
    // 8 power iterations with DECIMAL-summed inflows (operators/Graph).
    "q_pagerank" -> ((s, dir) => {
      val nodes = tbl(s, dir, "nation").select(col("n_nationkey").as("node"))
      graft.operators.Graph.pageRank(nationEdgesStore(s, dir), nodes, iters = 8)
        .join(broadcast(tbl(s, dir, "nation")), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("pr"))
        .orderBy(col("pr").desc, col("n_name"))
    }),

    // PERSONALIZED PageRank on the same graph: teleport restricted to
    // the ASIA-region nations, so ranks measure trade-flow proximity to
    // that seed set (random-walk-with-restart — the topic-sensitive /
    // recommendation flavor of the iterative family). Same iteration
    // core and determinism protocol; the oracle mirrors the per-node
    // base column with |S| computed in SQL.
    "q_ppr" -> ((s, dir) => {
      val nodes = tbl(s, dir, "nation").select(col("n_nationkey").as("node"))
      val seeds = tbl(s, dir, "nation")
        .join(broadcast(tbl(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("node"))
      graft.operators.Graph.personalizedPageRank(
          nationEdgesStore(s, dir), nodes, seeds, iters = 8)
        .join(broadcast(tbl(s, dir, "nation")), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("pr"))
        .orderBy(col("pr").desc, col("n_name"))
    }),

    // Single-source shortest hops over the nation trade graph (BFS
    // levels from nation 0): the reachability family beside the rank
    // fixpoints — how many trade-relationship hops from ALGERIA to
    // every other nation. Integer-exact; recursive-CTE oracle with the
    // identical ≤6-hop horizon.
    "q_bfs" -> ((s, dir) => {
      val nodes = tbl(s, dir, "nation").select(col("n_nationkey").as("node"))
      graft.operators.Graph.shortestHops(
          nationEdgesStore(s, dir).select("src", "dst"), nodes,
          source = 0L, maxHops = 6)
        .join(broadcast(tbl(s, dir, "nation")), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("hops"))
        .orderBy(col("hops"), col("n_name"))
    }),

    // Weighted single-source shortest PATHS over the nation trade
    // graph (distributed Bellman-Ford — the weighted sibling of
    // q_bfs): minimum total edge weight from ALGERIA over paths of at
    // most 6 edges. Integer-exact; the oracle is the same relaxation
    // unrolled as CTEs (the prIterSql discipline — a recursive walk
    // would enumerate path SUMS, exponential in rounds).
    "q_sssp" -> ((s, dir) => {
      val nodes = tbl(s, dir, "nation").select(col("n_nationkey").as("node"))
      graft.operators.Graph.shortestPaths(
          nationEdgesStore(s, dir), nodes, lit(0L), maxRounds = 6)
        .join(broadcast(tbl(s, dir, "nation")), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("dist"))
        .orderBy(col("dist"), col("n_name"))
    }),

    // HITS hubs & authorities on the nation trade graph (unweighted —
    // the classical formulation): which nations are hubs (their
    // suppliers ship to authoritative customer nations) vs authorities
    // (shipped to by hub nations) — the two-sided fixpoint family
    // beside PageRank's one-sided one. 4 iterations, per-half-step L1
    // normalization under the DECIMAL determinism protocol.
    "q_hits" -> ((s, dir) => {
      val nodes = tbl(s, dir, "nation").select(col("n_nationkey").as("node"))
      graft.operators.Graph.hits(
          nationEdgesStore(s, dir).select("src", "dst"), nodes, iters = 4)
        .join(broadcast(tbl(s, dir, "nation")), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("hub"), col("auth"))
        .orderBy(col("hub").desc, col("n_name"))
    }),

    // Streamed twin of q_pagerank: the SAME nation trade graph, but the
    // edge relation accumulated from l_orderkey-sliced micro-batch
    // DELTA contributions through StreamingGraph.processBatch (edge
    // weights are additive counts, so any batching accumulates to the
    // batch edge relation bit-for-bit), with the fixpoint served from
    // the version-keyed rank store — recomputed only when the edge
    // store moves. Hash-checks under q_pagerank's identical oracle.
    "q_pagerank_streamed" -> ((s, dir) =>
      streamedRanks(s, dir)
        .join(broadcast(tbl(s, dir, "nation")), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("pr"))
        .orderBy(col("pr").desc, col("n_name"))),

    // Streamed twins of q_hits and q_bfs: the whole iterative family
    // snapshots the SAME accumulated delta store through the
    // version-keyed `derived` memo — each fixpoint reruns only when
    // the edge store moves, and hash-checks under its batch twin's
    // identical oracle (the accumulated edges equal the batch
    // relation, and hits reads only the (src, dst) edge SET, which
    // delta summing preserves exactly).
    "q_hits_streamed" -> ((s, dir) =>
      streamedHits(s, dir)
        .join(broadcast(tbl(s, dir, "nation")), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("hub"), col("auth"))
        .orderBy(col("hub").desc, col("n_name"))),

    "q_bfs_streamed" -> ((s, dir) =>
      streamedBfs(s, dir)
        .join(broadcast(tbl(s, dir, "nation")), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("hops"))
        .orderBy(col("hops"), col("n_name"))),

    // Triangle counting over the (undirected) nation trade graph —
    // graph pattern matching. Canonical a<b<c edge orientation makes
    // each triangle match exactly once, and the two joins are
    // edge-keyed equi-joins (the standard distributed formulation:
    // join fan bounded by per-node degree, never all-triples).
    "q_triangles" -> ((s, dir) => {
      // the undirected canonical edge set derives from the persisted
      // edge store — a (src, dst) pair exists there iff the join chain
      // produced it, so least/greatest + distinct over the store equals
      // the former raw-chain formulation without re-running the chain
      val und = nationEdgesStore(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") < col("b"))
        .distinct()
      val e1 = und.select(col("a").as("x"), col("b").as("y"))
      val e2 = und.select(col("a").as("y"), col("b").as("z"))
      val e3 = und.select(col("a").as("x2"), col("b").as("z2"))
      e1.join(e2, "y")
        .join(e3, col("x") === col("x2") && col("z") === col("z2"))
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // TPC-H Q13 shape (customer order-count distribution): left outer
    // join so zero-order customers survive, per-customer count, then the
    // count-of-counts. Scale note: the join and the first aggregate share
    // the customer-key distribution (one exchange serves both); the
    // second aggregate's key space is order-counts — tiny at any scale.
    "q_custdist" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").select("c_custkey")
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // Hierarchical totals via ROLLUP: (region, nation), (region), (grand
    // total) — subtotal rows carry nulls in the rolled-up columns.
    // Expressed through the spark.sql surface: Spark 4.1's Dataset
    // rollup() trips the ambiguous-self-join check after any join
    // (grouping-set expansion re-references join-lineage attributes);
    // the SQL path plans the identical Expand + aggregate.
    //
    // PRE-AGGREGATE BEFORE THE GROUPING SETS: Expand multiplies its
    // input by the number of grouping sets, so it must run over the 25
    // (region, nation) leaf aggregates, not the joined fact rows —
    // at 100 TB that is the difference between replicating the fact
    // table 3× and replicating 25 rows 3×. Exactness holds because the
    // leaf partials stay DECIMAL until the final cast.
    "q_rollup_revenue" -> ((s, dir) => {
      // leaf served from the shared session memo (r22) — the 5-table
      // join + (region, nation) pre-aggregate is byte-identical across
      // the three grouping-set queries; the ROLLUP stays live
      RevenueLeaf.of(s, dir).createOrReplaceTempView("graft_revenue_leaf")
      s.sql(
        s"""SELECT r_name, n_name,
           |  CAST(SUM(rev) AS DOUBLE) AS revenue,
           |  SUM(cnt) AS n_lineitems
           |FROM graft_revenue_leaf
           |GROUP BY ROLLUP (r_name, n_name)""".stripMargin)
    }),

    // Large×large join with ZERO exchanges: lineitem ⋈ orders where BOTH
    // sides are served from session tables bucketed (and sorted) on the
    // order key into the same bucket count (sources/Sinks.scala
    // ColocatedStore). Bucket i joins bucket i — no shuffle of either
    // table at any scale — and the per-order aggregate's distribution
    // requirement is already satisfied by the bucketing, so the ENTIRE
    // query plans without an exchange (PlanSpec pins it). The merge hint
    // keeps the plan on the sort-merge path (a broadcast would also be
    // exchange-ish and stops being possible at real scale).
    "q_colocated_join" -> ((s, dir) => {
      val (li, ord) = graft.sources.ColocatedStore.orderJoinTables(s, dir)
      li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"), revenue.as("revenue"))
    }),

    // Selective two-dim box over the session's Z-ORDERED lineitem copy
    // (sources/Layout.scala): the layout-optimization read path end to
    // end — build the Morton-clustered rewrite once, then answer box
    // predicates from files whose min/max bounds overlap the box (the
    // rest skip on statistics; LayoutSpec measures the skip rate). The
    // oracle runs the same filter over the RAW table: layout must never
    // change results.
    "q_zorder_box" -> ((s, dir) =>
      graft.sources.LayoutStore.lineitemZ(s, dir)
        .filter(col("l_orderkey").between(100, 1200) &&
          col("l_partkey").between(10, 150))
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")),

    // Range join (bucketed, large×large-safe): lineitem quantities
    // matched to [lo, hi) tier intervals via bucket equi-join + residual
    // filter — not a nested-loop non-equi join.
    "q_range_tier" -> ((s, dir) => {
      import s.implicits._
      val tiers = Seq((0.0, 10.0, "small"), (10.0, 25.0, "mid"), (25.0, 60.0, "large"))
        .toDF("lo", "hi", "tier")
      graft.operators.RangeJoin
        .byBucket(tbl(s, dir, "lineitem"), "l_quantity", tiers, "lo", "hi", bucketWidth = 10.0)
        .groupBy("tier")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
    }),

    // Semi join (EXISTS): customers with at least one urgent order —
    // left_semi keeps the build side out of the output entirely, so the
    // probe never widens; the orders branch is filtered BEFORE the join
    // (predicate pushed to its scan).
    "q_semijoin" -> ((s, dir) => {
      val urgent = tbl(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      tbl(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"), sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_acctbal"))
    }),

    // LEFT OUTER join with null-to-zero handling: every customer with
    // their urgent-order count (0 when none) — completes the join-type
    // matrix (inner/semi/anti/left/as-of/range) at the relational level.
    "q_left_join" -> ((s, dir) => {
      val urgent = tbl(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      tbl(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("cnt"), lit(0L)).as("n_urgent"))
    }),

    // FULL OUTER join with null handling in BOTH directions: urgent-order
    // counts ⟗ low-priority counts per customer — either side can lack a
    // customer (188/171 one-sided keys at sf0.01), so coalescing the key
    // and both metrics is load-bearing, not decorative. Completes the
    // join-type matrix (inner/left/semi/anti/as-of/range/full). Scale
    // note: full outer admits no broadcast strategy in Spark — both
    // sides MUST shuffle — so each side is pre-aggregated to one row per
    // customer before the join, which is the smallest thing that can
    // cross the wire.
    "q_full_join" -> ((s, dir) => {
      def perCust(priority: String, out: String) =
        tbl(s, dir, "orders")
          .filter(col("o_orderpriority") === priority)
          .groupBy("o_custkey").agg(count(lit(1)).as(out))
      val u = perCust("1-URGENT", "cnt_u").withColumnRenamed("o_custkey", "u_custkey")
      val l = perCust("5-LOW", "cnt_l").withColumnRenamed("o_custkey", "l_custkey")
      u.join(l, col("u_custkey") === col("l_custkey"), "full_outer")
        .select(
          coalesce(col("u_custkey"), col("l_custkey")).as("custkey"),
          coalesce(col("cnt_u"), lit(0L)).as("n_urgent"),
          coalesce(col("cnt_l"), lit(0L)).as("n_low"))
    }),

    // Time-series rollup on a calendar grain: revenue per month
    // (date_trunc before the aggregation so the grouping key is computed
    // map-side and the exchange carries one row per month partial).
    "q_monthly_revenue" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM-dd").as("month"))
        .agg(revenue.as("revenue"), count(lit(1)).as("n_lineitems"))),

    // ADAPTIVE salted equi-join (explicit skew fallback —
    // Skew.adaptiveSaltedJoin): the fan comes from the probe side's
    // observed key histogram (sampled, fixed seed), so a distribution
    // where no key overflows a task — like l_orderkey here — degrades to
    // the plain join with ZERO dimension replication, while a genuinely
    // hot key gets exactly the fan its volume demands (≤ 8). Result must
    // equal the plain join bit-for-bit (the oracle runs the UNSALTED
    // join); PlanSpec pins the fan decision on both shapes.
    "q_salted_join" -> ((s, dir) =>
      graft.operators.Skew
        .adaptiveSaltedJoin(tbl(s, dir, "lineitem"), tbl(s, dir, "orders"),
          "l_orderkey", "o_orderkey", maxSalts = 8)
        .groupBy("o_orderpriority")
        .agg(revenue.as("revenue"), count(lit(1)).as("n_lineitems"))),

    // Relational set operations on key sets (the corpus-level complement
    // of the posting-set q_bool_* family): Spark plans INTERSECT/EXCEPT
    // as semi/anti joins — no full-row sort-merge.
    "q_intersect" -> ((s, dir) => {
      val d = graft.sources.Corpus.documents(s, dir)
      d.filter(col("lang") === "en").select("doc_id")
        .intersect(d.filter(col("n_chars") > 300).select("doc_id"))
    }),
    "q_except" -> ((s, dir) => {
      val d = graft.sources.Corpus.documents(s, dir)
      d.filter(col("lang") === "en").select("doc_id")
        .except(d.filter(col("n_chars") > 300).select("doc_id"))
    }),

    // Scalar subquery in a predicate: customers above the global mean
    // balance (mean written as DECIMAL sum/count — the engine's float
    // parity rule). The subquery plans as one tiny broadcast aggregate.
    "q_scalar_sub" -> ((s, dir) => {
      tbl(s, dir, "customer").createOrReplaceTempView("graft_customer")
      s.sql(
        """SELECT c_mktsegment, COUNT(*) AS n_above
          |FROM graft_customer
          |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          |                   FROM graft_customer)
          |GROUP BY c_mktsegment""".stripMargin)
    }),

    // Anti join (NOT EXISTS): customers with NO urgent order — the
    // relational complement of q_semijoin (the posting-set flavor is
    // q_bool_not). Same pushed filter on the build side; AQE broadcasts
    // the anti side.
    "q_antijoin" -> ((s, dir) => {
      val urgent = tbl(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      tbl(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
    }),

    // NULL-AWARE anti join (NOT IN, three-valued logic): events whose
    // extracted k is NOT IN the error-event k set. Distinct from
    // q_antijoin's NOT-EXISTS shape: a NULL probe value can never
    // satisfy NOT IN (NULL <> x is UNKNOWN), so null-k events vanish —
    // the semantics the left_anti join does NOT have. The subquery side
    // is filtered non-null so Spark plans the single-column null-aware
    // anti join (broadcast) instead of degenerating to a nested loop.
    "q_not_in" -> ((s, dir) => {
      graft.sources.Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .createOrReplaceTempView("graft_ev_k")
      s.sql(
        """SELECT event_id, k FROM graft_ev_k
          |WHERE event_type = 'purchase'
          |  AND k NOT IN (SELECT k FROM graft_ev_k
          |                WHERE event_type = 'error' AND k IS NOT NULL
          |                  AND k < 50)""".stripMargin)
    }),

    // Pivot: quantity totals per return flag, one column per line status.
    // Explicit pivot values keep the schema static (a dynamic pivot would
    // need a driver-side distinct pass — an anti-pattern at scale) and the
    // plan a single Expand-free aggregation.
    "q_pivot" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum("l_quantity"))),

    // Unpivot/melt (Spark 4 Dataset.unpivot): per-flag aggregates to tall
    // (flag, metric, value) form — the wide→long reshaping step feature
    // pipelines need.
    "q_unpivot" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          sum("l_quantity").cast("double").as("sum_qty"),
          count(lit(1)).cast("double").as("n_rows"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("n_rows")),
          "metric", "value")),

    // CUBE grouping sets: all four (region, nation) subtotal combinations
    // — the grouping-set companion to q_rollup_revenue (same spark.sql
    // surface; Dataset cube() trips the post-join ambiguous-self-join
    // check in Spark 4.1). Same pre-aggregate-before-Expand shape: the
    // 4-way Expand runs over 25 leaf rows, not the fact table.
    "q_cube_revenue" -> ((s, dir) => {
      // leaf served from the shared session memo (r22) — see
      // q_rollup_revenue; the CUBE stays live
      RevenueLeaf.of(s, dir).createOrReplaceTempView("graft_revenue_leaf")
      s.sql(
        s"""SELECT r_name, n_name,
           |  CAST(SUM(rev) AS DOUBLE) AS revenue,
           |  SUM(cnt) AS n_lineitems
           |FROM graft_revenue_leaf
           |GROUP BY CUBE (r_name, n_name)""".stripMargin)
    }),

    // EXPLICIT grouping sets (the general form rollup/cube specialize):
    // region totals and nation totals in one pass, same leaf
    // pre-aggregate discipline as q_cube_revenue (Expand runs over the
    // 25 leaf rows, not the fact table) plus grouping_id to tell the
    // levels apart where a grouping column is genuinely NULL-ambiguous.
    "q_grouping_sets" -> ((s, dir) => {
      // leaf served from the shared session memo (r22) — see
      // q_rollup_revenue; the GROUPING SETS aggregate stays live
      RevenueLeaf.of(s, dir).createOrReplaceTempView("graft_revenue_leaf")
      s.sql(
        s"""SELECT r_name, n_name,
           |  CAST(grouping_id(r_name, n_name) AS BIGINT) AS gid,
           |  CAST(SUM(rev) AS DOUBLE) AS revenue,
           |  SUM(cnt) AS n_lineitems
           |FROM graft_revenue_leaf
           |GROUP BY GROUPING SETS ((r_name), (n_name))""".stripMargin)
    }),

    // Exact percentiles by SORT (operators/Percentiles — the exact
    // counterpart of the GK sketch): quartiles of extended price per
    // return flag. Spark's built-in exact `percentile` buffers every
    // value of a group in memory, which does not survive corpus scale;
    // the sort-based form is one spillable sort exchange + a two-row
    // interpolation per quantile.
    "q_percentiles" -> ((s, dir) =>
      PriceQuantiles.of(s, dir)
        .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"), col("n"))),

    // Median absolute deviation per group — the ROBUST dispersion
    // statistic (outlier-insensitive where q_profile's stddev is not):
    // BOTH passes now live in the shared quantile store (the price
    // median from the family pass, the deviation median from its own
    // store-build pass — deviation depends only on store-known state),
    // so the query itself is a 3-row join of two store reads. Both
    // medians are 6-dp rounded at the boundary so the deviation inputs
    // are identical doubles on both engines.
    "q_mad" -> ((s, dir) => {
      val med = PriceQuantiles.of(s, dir)
        .select(col("l_returnflag"), col("p50").as("median"))
      PriceQuantiles.mad(s, dir)
        .join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"), col("median"), col("mad"), col("n"))
    }),

    // Winsorized mean per group — the robust-mean preprocessing step
    // (clamp to [p05, p95], then average): the 3-row bounds relation
    // projects from the SHARED quantile store and broadcasts, the
    // clamp is a map-side least/greatest projection, and the mean goes
    // through a DECIMAL sum (clamped values are either the raw 2-dp
    // measures or the 6-dp-rounded bounds — both exact in
    // DECIMAL(18,6)).
    "q_winsorized" -> ((s, dir) => {
      val bounds = PriceQuantiles.of(s, dir)
        .select("l_returnflag", "p05", "p95")
      tbl(s, dir, "lineitem")
        .join(broadcast(bounds), "l_returnflag")
        .select(col("l_returnflag"), col("p05"), col("p95"),
          least(greatest(col("l_extendedprice"), col("p05")), col("p95")).as("cl"))
        .groupBy("l_returnflag", "p05", "p95")
        .agg(
          round(sum(col("cl").cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 6).as("wmean"),
          count(lit(1)).as("n"))
    }),

    // RANGE window frame (value-based, vs the ROWS frames above): per
    // customer, trailing-30-day order revenue. Ordered on epoch MICROS
    // (`unix_micros`) so the frame bound is the same µs arithmetic
    // DuckDB's `INTERVAL 30 DAY PRECEDING` performs on timestamps — the
    // time-key discipline of the asof/stream-stream oracles. The parquet
    // column is TIMESTAMP_NTZ; the cast to session-tz TIMESTAMP is
    // offset-exact under the UTC session every engine entry point pins
    // (Verify/tests — only a DST-transition zone could shift a bound).
    // Partitions are per-customer (bounded fan — data-sized parallelism
    // across customers, never a global sort); money sums through DECIMAL
    // per the file-header parity rules.
    "q_trailing_revenue" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val micros = 30L * 86400 * 1000000
      val w = Window.partitionBy("o_custkey")
        .orderBy(unix_micros(col("o_orderdate").cast("timestamp")))
        .rangeBetween(-micros, 0)
      tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("trailing_revenue"),
        count(lit(1)).over(w).as("n_trailing"))
    }),

    // The remaining common window shapes in one pass — ntile (equi-depth
    // bucketing), cume_dist (distribution rank), first_value (running
    // frame head) — all over ONE per-customer window ordering (fully
    // deterministic: the orderkey tie-break), so the plan is a single
    // window exchange shared by all three functions. Per-customer
    // partitions = data-sized parallelism, nothing global.
    "q_window_shapes" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cume"),
        first_value(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("first_price"))
    }),

    // ---- TPC-DS starter deck (r20): the four DS plan shapes the TPC-H
    // deck does not cover — rank over grouping sets, multi-channel
    // conformed union, different-grain correlated average, moving
    // aggregate over an aggregate grain. Oracles in classic form below.

    // TPC-DS q67 shape (rank over rollup): the per-type revenue ranking
    // runs over the GROUPING-SET output — brand leaves, type subtotals
    // and the grand total all compete inside their type partition (the
    // NULL-type partition holds the rollup's grand-total row), a window-
    // exchange-over-Expand plan form nothing else on the surface pins.
    // Same pre-aggregate-before-Expand discipline as q_rollup_revenue:
    // the 3-way Expand multiplies the (type, brand) leaf aggregates,
    // never fact rows — at 100 TB the difference between replicating
    // the fact table 3× and replicating a few hundred rows 3×. The rank
    // order is made TOTAL (revenue desc, then brand with NULL collapsed
    // to '' — explicit, because the engines' default NULL sort order
    // differs) so rank() is deterministic. Expressed through the
    // spark.sql surface like every grouping-set query here (Spark 4.1's
    // Dataset rollup() trips the ambiguous-self-join check after a
    // join); the SQL plans the identical Expand + aggregate + window.
    "q_cat_top_rank" -> ((s, dir) => {
      Seq("lineitem", "part")
        .foreach(t => tbl(s, dir, t).createOrReplaceTempView(s"graft_$t"))
      s.sql(
        s"""WITH leaf AS (
           |  SELECT p_type, p_brand,
           |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev,
           |    COUNT(*) AS cnt
           |  FROM graft_lineitem JOIN graft_part ON l_partkey = p_partkey
           |  GROUP BY p_type, p_brand
           |), rolled AS (
           |  SELECT p_type, p_brand,
           |    CAST(SUM(rev) AS DOUBLE) AS revenue, SUM(cnt) AS n_items
           |  FROM leaf GROUP BY ROLLUP (p_type, p_brand)
           |)
           |SELECT p_type, p_brand, revenue, n_items, rk
           |FROM (SELECT *, CAST(rank() OVER (PARTITION BY p_type
           |        ORDER BY revenue DESC, COALESCE(p_brand, '')) AS INT) AS rk
           |      FROM rolled) ranked
           |WHERE rk <= 3""".stripMargin)
    }),

    // TPC-DS q77/q5 shape (multi-channel report): three DIFFERENT source
    // relations — orders ("store"), lineitem ("catalog"), purchase
    // events ("web") — each aggregated to its own monthly grain FIRST,
    // conformed to one (channel, month, sales, txns) schema by UNION
    // ALL, then rolled up to channel totals and the grand total. The
    // union runs over three already-aggregated month-grain relations
    // (bounded rows), so the rollup's Expand and the final exchange
    // move report-sized data regardless of fact scale; each branch's
    // aggregate pushes map-side partials into its own scan. Money stays
    // DECIMAL through BOTH aggregation levels (per-channel sums cast to
    // one common DECIMAL(30,4) so the union's type is exact), cast to
    // DOUBLE once at the end.
    "q_channel_report" -> ((s, dir) => {
      def monthly(src: DataFrame, channel: String, ts: Column, money: Column) =
        src.groupBy(date_format(date_trunc("month", ts), "yyyy-MM-dd").as("month"))
          .agg(sum(money).cast(DecimalType(30, 4)).as("sales_dec"),
            count(lit(1)).as("txns"))
          .select(lit(channel).as("channel"), col("month"),
            col("sales_dec"), col("txns"))
      val store = monthly(tbl(s, dir, "orders"), "store",
        col("o_orderdate"), col("o_totalprice").cast(DecimalType(18, 2)))
      val catalog = monthly(tbl(s, dir, "lineitem"), "catalog",
        col("l_shipdate"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)))
      val web = monthly(
        graft.sources.Tables.events(s, dir).filter(col("event_type") === "purchase"),
        "web", col("t"), col("value").cast(DecimalType(18, 2)))
      store.unionByName(catalog).unionByName(web)
        .rollup(col("channel"), col("month"))
        .agg(sum(col("sales_dec")).cast("double").as("sales"),
          sum(col("txns")).as("txns"))
    }),

    // TPC-DS q1 shape (per-group outlier vs a DIFFERENT-grain average):
    // customers whose returned revenue exceeds 1.2× the average
    // customer's returned revenue within their nation. The classic form
    // correlates a per-customer total with a per-nation average of those
    // totals; decorrelated the Q17 way — ONE per-customer aggregate over
    // the filtered fact join, the nation average computed OVER that
    // aggregate (25 rows, broadcast back), never a per-customer rescan.
    // The customer-grain relation is PERSISTED (it is output-sized —
    // customers, never fact rows) because Spark shares no common
    // subplan across the two consumers: without it the lineitem ⋈
    // orders aggregate runs twice, once for the result rows and once
    // for the 25-row average (PlanSpec pins both consumers on the
    // cache). A 25-partition nation WINDOW would also be one pass but
    // caps parallelism at the nation count — the broadcast join-back
    // keeps customer-grain parallelism. The threshold comparison runs
    // on the exact-DECIMAL customer total cast to DOUBLE against
    // sum/count (the house explicit-average rule), so both engines
    // select the identical row set.
    "q_state_returns" -> ((s, dir) => {
      val custRet = CustReturns.of(s, dir)
      val navg = custRet.groupBy(col("n_name").as("nk"))
        .agg((sum(col("ret_dec")).cast("double") / count(lit(1))).as("nation_avg"))
      custRet.join(broadcast(navg), col("n_name") === col("nk"))
        .filter(col("ret_dec").cast("double") > col("nation_avg") * lit(1.2))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("ret_dec").cast("double").as("returned_rev"),
          round(col("nation_avg"), 6).as("nation_avg"))
    }),

    // TPC-DS moving-aggregate shape (q67's windowed cousin): monthly
    // revenue per customer nation with a 3-month moving average and the
    // cumulative total — the window runs over the AGGREGATED month grain
    // (≤ nations × months rows after one fact aggregate), distinct from
    // q_trailing_revenue's row-grain RANGE frame. Partitions are
    // per-nation (bounded fan-out, no global sort); the frame sums stay
    // DECIMAL (exact at any accumulation order) and the moving average
    // is the explicit frame-sum / frame-count.
    "q_store_sales_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val leaf = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), date_trunc("month", col("l_shipdate")).as("m"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("rev_dec"))
      val w3 = Window.partitionBy("n_name").orderBy("m").rowsBetween(-2, 0)
      val wc = Window.partitionBy("n_name").orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      leaf.select(col("n_name"),
        date_format(col("m"), "yyyy-MM-dd").as("month"),
        col("rev_dec").cast("double").as("revenue"),
        round(sum(col("rev_dec")).over(w3).cast("double") /
          count(lit(1)).over(w3), 6).as("ma3"),
        sum(col("rev_dec")).over(wc).cast("double").as("cum_revenue"))
    }),
  ) ++ LineitemStores.twins(
    // Each body runs over `lineitem` and, as `<name>_streamed`, over the
    // lineitem fact store.
    // TPC-H Q1-style pricing summary: the canonical partial-agg benchmark.
    "q1_agg" -> ((_, _, li) => q1AggOf(li)),

    // TPC-H Q14 shape (promotion effect): monthly revenue share of
    // promo-type parts — the part dimension joins the fact table on
    // partkey (dim-sized side left to stats/AQE to broadcast), revenue
    // in per-row DECIMAL(18,4) exactly like every money aggregate here;
    // only the final percentage is float. Closes the one fixture table
    // (part) the surface didn't exercise.
    "q_promo_share" -> promoShareOf,

    // TPC-H Q18 shape (large-volume customers): orders whose lineitems
    // sum past a quantity threshold, with customer attribution — the
    // HAVING-filtered aggregate feeding a join feeding a top-k. The
    // order-key aggregate runs FIRST (map-side partials absorb the
    // lineitem mass; the HAVING filter collapses the relation to the
    // rare heavy orders) so the two joins move only qualifying rows;
    // TakeOrderedAndProject caps the result without a global sort.
    "q_big_orders" -> bigOrdersOf,

    // TPC-H Q21 shape (suppliers who kept orders waiting): the hardest
    // classic join shape — a multi-EXISTS/NOT-EXISTS FACT-FACT
    // self-join. "Late" here is the lineitem's problem flag
    // (l_returnflag = 'R'; the synthetic schema carries no
    // commit/receipt dates) on a finalized ('F') order: a supplier
    // qualifies per late line iff SOME other supplier shipped on the
    // same order (left SEMI against a self-projection of lineitem) and
    // NO other supplier was ALSO late on it (left ANTI against the
    // late-filtered self-projection). Both branches are EQUI-joins on
    // the order key with the supplier inequality as a join residual —
    // they plan as hash/sort-merge semi/anti, NEVER a nested-loop
    // (PlanSpec pins this); the orders dimension filter collapses the
    // probe side before either self-join moves data.
    "q_late_suppliers" -> lateSuppliersOf,

    // TPC-H Q11 shape (important stock): per-part revenue HAVING above
    // a GLOBAL-scalar threshold — the group-aggregate-vs-global-scalar
    // plan (a correlated scalar subquery in the classic form; here the
    // 1-row global relation rides a crossJoin that AQE broadcasts).
    // The threshold is AVERAGE-relative (value·n_parts > total·1.2) so
    // it is scale-invariant and EVERY comparison stays in exact
    // DECIMAL — no division, no rounding on either engine.
    "q_important_parts" -> importantPartsOf,

    // TPC-H Q19 shape (discounted revenue under a DISJUNCTION of
    // brand/size/quantity conjunctions): the OR-of-ANDs predicate
    // spans BOTH join sides, the classic stress of disjunctive
    // predicate pushdown — Catalyst must extract each side's
    // derivable disjunction (brand/size to the part scan, the
    // quantity envelope to the lineitem scan) instead of filtering
    // the full join product. PlanSpec pins the pushed Or filters.
    "q_disjunctive_rev" -> disjunctiveRevOf,

    // TPC-H Q20 shape (excess stock): suppliers semi-joined through a
    // part-name filter and gated by a CORRELATED 0.5·sum(l_quantity)
    // threshold — stock on hand (returned quantity, the fixture's
    // availqty analog) must exceed half the demand-window shipments.
    // The fixture's (partkey, suppkey) pairs are near-singletons (avg
    // 1.16 lineitems at EVERY SF — measured), which would make a
    // pair-grain correlated aggregate decorative (q > 0.5·q for a
    // single returned row), so the correlation grain is the supplier's
    // PRODUCT LINE (the part-name filter already fixes the product):
    // ~10 lineitems per cell at every SF, the gate binds for real
    // (65/100 suppliers at sf0.01). Engine plan: aggregate-then-
    // equi-semi — the lineitem mass collapses to ≤ |supplier| rows
    // BEFORE any join, then one LeftSemi into supplier; never a
    // nested-loop (PlanSpec pins it). The threshold compares in exact
    // DECIMAL as 2·avail > demand — the Q11 no-division discipline.
    "q_excess_stock" -> excessStockOf,

    // TPC-H Q10 shape (returned-item reporting): customers who returned
    // goods in a half-year window, ranked by lost revenue — the
    // fact-filter → agg → two dimension joins → top-k chain. Revenue in
    // per-row DECIMAL(18,4); the order key is the (double-cast revenue,
    // custkey) pair, identical text both engines.
    "q_returned_top" -> returnedTopOf,

    // TPC-H Q12 shape (shipping-priority audit): per problem-flag class
    // ('A'/'R' — the schema's shipmode analog), how many lines in the
    // ship window belong to HIGH-priority orders vs not — the
    // fact ⋈ dim conditional-count aggregate.
    "q_priority_lines" -> priorityLinesOf,

    // TPC-H Q15 shape (top supplier): quarter revenue per supplier, the
    // argmax via the Q11 global-scalar pattern (1-row max relation on a
    // crossJoin AQE broadcasts; equality in exact DECIMAL so ties —
    // ALL maximal suppliers — resolve identically on both engines).
    "q_top_supplier" -> topSupplierOf,

    // TPC-H Q17 shape (small-quantity-order revenue): lines whose
    // quantity falls below 0.2× their part's average — the correlated
    // per-part scalar decorrelated to aggregate-then-join, with the
    // threshold compared DIVISION-FREE (qty < s/(5n) ⟺ s > qty·5·n;
    // the s side exact DECIMAL cast to double, the same IEEE products
    // both engines — no float-average boundary to diverge on).
    "q_small_qty_rev" -> ((_, _, li) => smallQtyRevOf(li)),

    // TPC-H Q4 shape (order-priority audit): quarter-filtered orders
    // EXISTS-gated on a problem lineitem — the classic semi-join count.
    "q_order_priority" -> orderPriorityOf,

    // TPC-H Q6 shape (revenue forecast): the PURE-SCAN aggregate — all
    // three predicates pushed to the parquet scan (PlanSpec pins
    // PushedFilters), no join, map-side partials only.
    "q_forecast_rev" -> ((_, _, li) => forecastRevOf(li)),

    // TPC-H Q7 shape (two-nation trade volume): both shipping
    // directions per year, nation filters collapsing the broadcast dim
    // sides before the fact joins.
    "q_nation_volume" -> nationVolumeOf,

    // TPC-H Q9 shape (product-type profit): per (nation, ship year)
    // profit with the retail-linked cost proxy, DECIMAL subtraction.
    "q_product_profit" -> productProfitOf,
  ) ++ AnalysisQueries.EventStores.twins(
    // Analytic window over event time: each event with the user's
    // previous value (lag) and running event number.
    "q_user_lag" -> ((_, _, e) => userLagOf(e)),
  )

  val oracles: Map[String, String] = Map(
    // skew stats: exact integer inputs, identical (max_f × ndv)/n order
    "q_skew_report" ->
      """WITH s AS (
        |  SELECT 'l_orderkey' AS join_key, count(*) AS ndv,
        |         CAST(sum(f) AS BIGINT) AS n, CAST(max(f) AS BIGINT) AS max_f
        |  FROM (SELECT l_orderkey, count(*) AS f FROM lineitem GROUP BY 1)
        |  UNION ALL
        |  SELECT 'l_partkey', count(*), CAST(sum(f) AS BIGINT), CAST(max(f) AS BIGINT)
        |  FROM (SELECT l_partkey, count(*) AS f FROM lineitem GROUP BY 1)
        |  UNION ALL
        |  SELECT 'l_suppkey', count(*), CAST(sum(f) AS BIGINT), CAST(max(f) AS BIGINT)
        |  FROM (SELECT l_suppkey, count(*) AS f FROM lineitem GROUP BY 1)
        |)
        |SELECT join_key, ndv, n, max_f,
        |       round(CAST(max_f AS DOUBLE) * ndv / n, 6) AS skew_factor
        |FROM s""".stripMargin,

    // TPC-H Q14 mirror: identical per-row DECIMAL(18,4) revenue, the
    // identical (100 × promo) / total double arithmetic
    "q_promo_share" ->
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS month,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       round(100 * CAST(coalesce(SUM(CASE WHEN p_type = 'PROMO'
        |                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) END),
        |                   0) AS DOUBLE)
        |             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
        |             6) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,

    // TPC-H Q18 mirror: identical DECIMAL quantity sums, identical
    // (total_qty DESC, o_orderkey) total order under the limit
    "q_big_orders" ->
      """WITH heavy AS (
        |  SELECT l_orderkey AS o_orderkey,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
        |)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       CAST(h.total_qty AS DOUBLE) AS total_qty
        |FROM heavy h
        |JOIN orders o ON h.o_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY total_qty DESC, o.o_orderkey LIMIT 100""".stripMargin,

    // TPC-H Q21 mirror: the INDEPENDENT formulation — correlated
    // EXISTS / NOT EXISTS subqueries instead of the engine's explicit
    // semi/anti joins; identical (numwait DESC, s_name) total order
    // (s_name is unique) under the limit
    "q_late_suppliers" ->
      """WITH l AS (SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem),
        |f AS (
        |  SELECT l.l_orderkey, l.l_suppkey
        |  FROM l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R' AND o.o_orderstatus = 'F'
        |)
        |SELECT s.s_name, n.n_name, count(*) AS numwait
        |FROM f l1
        |JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE EXISTS (SELECT 1 FROM l l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s.s_name LIMIT 100""".stripMargin,

    // TPC-H Q11 mirror: identical DECIMAL casts end to end — the
    // comparison is exact on both engines, so the HAVING set is
    // bit-stable by construction
    "q_important_parts" ->
      """WITH li AS (
        |  SELECT l_partkey,
        |         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
        |  FROM lineitem
        |), per AS MATERIALIZED (
        |  SELECT l_partkey, CAST(SUM(rev) AS DECIMAL(18,4)) AS value
        |  FROM li GROUP BY 1
        |), tot AS MATERIALIZED (
        |  SELECT CAST(SUM(value) AS DECIMAL(20,4)) AS total, count(*) AS np FROM per
        |)
        |SELECT per.l_partkey AS p_partkey, p.p_name,
        |       CAST(per.value AS DOUBLE) AS value
        |FROM per
        |CROSS JOIN tot
        |JOIN part p ON per.l_partkey = p.p_partkey
        |WHERE per.value * tot.np > tot.total * 1.2""".stripMargin,

    // TPC-H Q19 mirror: identical DECIMAL revenue, identical disjunction
    "q_disjunctive_rev" ->
      """SELECT count(*) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
        |       AND l.l_quantity BETWEEN 10 AND 35)""".stripMargin,

    // TPC-H Q20 mirror: the INDEPENDENT formulation — per-supplier
    // CORRELATED scalar subqueries (TPC-H's own nested shape) instead
    // of the engine's aggregate-then-semi; the threshold compares in
    // exact DECIMAL as 2·avail > demand on both engines, and the
    // demand > 0 witness is its own correlated EXISTS
    "q_excess_stock" ->
      """WITH prod AS (SELECT p_partkey FROM part WHERE p_name = 'small gizmo')
        |SELECT s.s_name, n.n_name
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l0
        |    WHERE l0.l_suppkey = s.s_suppkey
        |      AND l0.l_partkey IN (SELECT p_partkey FROM prod)
        |      AND l0.l_shipdate >= TIMESTAMP '1998-01-01'
        |      AND l0.l_shipdate <  TIMESTAMP '2002-01-01')
        |  AND 2 * (SELECT COALESCE(SUM(CAST(l1.l_quantity AS DECIMAL(18,2))), 0)
        |           FROM lineitem l1
        |           WHERE l1.l_suppkey = s.s_suppkey
        |             AND l1.l_returnflag = 'R'
        |             AND l1.l_partkey IN (SELECT p_partkey FROM prod))
        |    > (SELECT COALESCE(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))), 0)
        |       FROM lineitem l2
        |       WHERE l2.l_suppkey = s.s_suppkey
        |         AND l2.l_shipdate >= TIMESTAMP '1998-01-01'
        |         AND l2.l_shipdate <  TIMESTAMP '2002-01-01'
        |         AND l2.l_partkey IN (SELECT p_partkey FROM prod))
        |ORDER BY s.s_name""".stripMargin,

    // TPC-H Q10 mirror: identical DECIMAL revenue, identical
    // (revenue DESC, custkey) total order under the limit
    "q_returned_top" ->
      s"""SELECT c.c_custkey, c.c_name, n.n_name,
         |       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |WHERE l.l_returnflag = 'R'
         |  AND o.o_orderdate >= TIMESTAMP '1999-01-01'
         |  AND o.o_orderdate <  TIMESTAMP '1999-07-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin,

    // TPC-H Q12 mirror: integer conditional counts — exact by nature
    "q_priority_lines" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_shipdate >= TIMESTAMP '1999-01-01'
        |  AND l_shipdate <  TIMESTAMP '2000-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // TPC-H Q15 mirror: the classic view-then-max formulation; the max
    // equality compares in exact DECIMAL so the maximal SET is bit-stable
    "q_top_supplier" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT l_suppkey AS s_suppkey,
        |         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |    AND l_shipdate <  TIMESTAMP '1999-04-01'
        |  GROUP BY 1
        |)
        |SELECT r.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
        |FROM rev r JOIN supplier s ON r.s_suppkey = s.s_suppkey
        |WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY r.s_suppkey""".stripMargin,

    // TPC-H Q17 mirror: the identical division-free threshold text —
    // an independent 0.2·avg() float form would diverge exactly at the
    // boundary the exact comparison exists to pin down
    "q_small_qty_rev" ->
      """WITH pa AS MATERIALIZED (
        |  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s, count(*) AS n
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT count(*) AS n_lines,
        |       round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
        |FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
        |WHERE CAST(pa.s AS DOUBLE) > l.l_quantity * 5 * pa.n""".stripMargin,

    // TPC-H Q2 mirror: the INDEPENDENT formulation — the classic
    // CORRELATED regional-min scalar subquery (TPC-H's own nested
    // shape) over the fact-derived supply-cost relation; the min
    // compares in exact DECIMAL(18,2), so the per-part minimal SET is
    // bit-stable on both engines
    "q_min_cost_supp" ->
      """WITH ps AS MATERIALIZED (
        |  SELECT l_partkey, l_suppkey,
        |         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
        |       CAST(ps.cost AS DOUBLE) AS cost
        |FROM part p, ps, supplier s, nation n, region r
        |WHERE p.p_partkey = ps.l_partkey AND s.s_suppkey = ps.l_suppkey
        |  AND p.p_size = 15
        |  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
        |  AND r.r_name = 'EUROPE'
        |  AND ps.cost = (
        |    SELECT MIN(ps2.cost)
        |    FROM ps ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.l_partkey = p.p_partkey AND s2.s_suppkey = ps2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        |LIMIT 100""".stripMargin,

    // TPC-H Q4 mirror: the INDEPENDENT formulation — correlated EXISTS
    // (TPC-H's own shape) instead of the engine's explicit semi-join
    "q_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1999-07-01'
        |  AND o.o_orderdate <  TIMESTAMP '1999-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // TPC-H Q6 mirror: identical predicates (discount bounds through
    // text→DOUBLE casts — the prIterSql literal discipline), identical
    // DECIMAL revenue
    "q_forecast_rev" ->
      """SELECT count(*) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |  AND l_shipdate <  TIMESTAMP '2000-01-01'
        |  AND l_discount >= CAST('0.05' AS DOUBLE)
        |  AND l_discount <= CAST('0.07' AS DOUBLE)
        |  AND l_quantity < 24""".stripMargin,

    // TPC-H Q7 mirror: the classic n1/n2 OR pair-predicate formulation
    // instead of the engine's filtered-dim joins; identical DECIMAL
    // revenue and year arithmetic
    "q_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate <  TIMESTAMP '2000-01-01'
        |  AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,

    // TPC-H Q8 mirror: the classic all_nations-subquery formulation
    // (TPC-H's own nested shape) instead of the engine's one-pass
    // conditional aggregate; DECIMAL volumes, float-last division
    "q_market_share" ->
      """WITH all_nations AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
        |         n1.n_name AS nation
        |  FROM lineitem
        |  JOIN part     ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region   ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1998-01-01'
        |    AND o_orderdate <  TIMESTAMP '2000-01-01'
        |)
        |SELECT o_year,
        |       round(CAST(coalesce(SUM(CASE WHEN nation = 'NATION_2'
        |                                    THEN volume END), 0) AS DOUBLE)
        |             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
        |FROM all_nations GROUP BY 1 ORDER BY 1""".stripMargin,

    // TPC-H Q9 mirror: identical DECIMAL revenue and retail-linked cost
    // proxy — the SAME double product sequence (retail·qty)·0.1 on both
    // engines, then the same exact DECIMAL(18,4) casts and subtraction
    "q_product_profit" ->
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |                - CAST(p_retailprice * l_quantity * CAST('0.1' AS DOUBLE)
        |                       AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part     ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%gizmo%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,

    // TPC-H Q16 mirror: the classic NOT IN formulation over the
    // complaint-supplier subquery (the fixture's complaint analog is a
    // negative balance); integer counts — exact by nature
    "q_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey IS NOT NULL
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0
        |                          AND s_suppkey IS NOT NULL)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // TPC-H Q22 mirror: the classic nested formulation — the global
    // average as a scalar subquery, the no-recent-order gate as a
    // correlated NOT EXISTS; identical DECIMAL balance arithmetic
    "q_global_sales_opp" ->
      """SELECT cntrycode, count(*) AS numcust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM (
        |  SELECT substr(c_name, 17, 2) AS cntrycode, c_acctbal, c_custkey
        |  FROM customer
        |  WHERE substr(c_name, 17, 2) IN ('13','31','23','29','30','18','17')
        |) c
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    FROM customer
        |    WHERE c_acctbal > CAST('0.0' AS DOUBLE)
        |      AND substr(c_name, 17, 2) IN ('13','31','23','29','30','18','17'))
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c.c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact inputs + the three bound flags as the theorems they are
    // (HLL protocol: estimates are engine-specific but deterministic
    // for a fixed input; a bound violation flips a flag → hash fail)
    "q_join_card" ->
      """WITH l AS (
        |  SELECT count(*) AS n_left, count(DISTINCT o_orderkey) AS ndv_left
        |  FROM orders
        |), r AS (
        |  SELECT count(*) AS n_right, count(DISTINCT l_orderkey) AS ndv_right
        |  FROM lineitem
        |), e AS (
        |  SELECT coalesce(sum(fl * fr), 0) AS exact_join_rows
        |  FROM (SELECT o_orderkey AS k, count(*) AS fl FROM orders GROUP BY 1) a
        |  JOIN (SELECT l_orderkey AS k, count(*) AS fr FROM lineitem GROUP BY 1) b
        |    USING (k)
        |)
        |SELECT n_left, n_right, ndv_left, ndv_right,
        |       CAST(exact_join_rows AS BIGINT) AS exact_join_rows,
        |       TRUE AS hll_left_within, TRUE AS hll_right_within,
        |       TRUE AS est_within_band
        |FROM l, r, e""".stripMargin,

    "q_validate" ->
      s"""WITH m AS (
         |  SELECT count(*) AS n,
         |         count(o_custkey) AS n_cust,
         |         count(DISTINCT o_orderkey) AS n_key,
         |         sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS n_status,
         |         min(o_totalprice) AS min_price,
         |         count(DISTINCT o_orderpriority) AS n_prio,
         |         sum(CASE WHEN length(o_orderpriority) > 0 THEN 1 ELSE 0 END) AS n_prio_ne
         |  FROM orders
         |)
         |SELECT 'completeness(o_custkey)' AS check_name,
         |       CAST(n_cust AS DOUBLE)/n AS metric, CAST(n_cust AS DOUBLE)/n >= 1.0 AS passed FROM m
         |UNION ALL SELECT 'uniqueness(o_orderkey)',
         |       CAST(n_key AS DOUBLE)/n, CAST(n_key AS DOUBLE)/n = 1.0 FROM m
         |UNION ALL SELECT 'compliance(status_domain)',
         |       CAST(n_status AS DOUBLE)/n, CAST(n_status AS DOUBLE)/n >= 1.0 FROM m
         |UNION ALL SELECT 'min(o_totalprice)',
         |       CAST(min_price AS DOUBLE), min_price >= 0.0 FROM m
         |UNION ALL SELECT 'approx_domain(o_orderpriority)',
         |       CAST(n_prio AS DOUBLE), n_prio <= 5 FROM m
         |UNION ALL SELECT 'compliance(priority_nonempty)',
         |       CAST(n_prio_ne AS DOUBLE)/n, CAST(n_prio_ne AS DOUBLE)/n >= 1.0 FROM m""".stripMargin,

    "q_corr" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = Seq(
        ("l_quantity", "l_extendedprice"),
        ("l_extendedprice", "l_discount"),
        ("l_discount", "l_tax"))
      val aggSql = (cols.map { c =>
        s"""CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE) AS s_$c,
           |         CAST(SUM(CAST($c*$c AS DECIMAL(18,4))) AS DOUBLE) AS q_$c""".stripMargin
      } ++ pairs.zipWithIndex.map { case ((x, y), i) =>
        s"CAST(SUM(CAST($x*$y AS DECIMAL(18,4))) AS DOUBLE) AS sxy_$i"
      }).mkString(",\n         ")
      val rowSql = pairs.zipWithIndex.map { case ((x, y), i) =>
        s"""SELECT '$x~$y' AS pair,
           |       round((n * sxy_$i - s_$x * s_$y)
           |             / (sqrt(n * q_$x - s_$x * s_$x)
           |                * sqrt(n * q_$y - s_$y * s_$y)), 6) AS r
           |FROM m""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH m AS (
         |  SELECT count(*) AS n,
         |         $aggSql
         |  FROM lineitem
         |)
         |$rowSql""".stripMargin
    },

    "q_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      s"""WITH m AS (
         |  SELECT count(*) AS n,
         |         ${cols.map(profileAggSql).mkString(",\n         ")}
         |  FROM lineitem
         |)
         |${cols.map(profileRowSql).mkString("\nUNION ALL ")}""".stripMargin
    },

    // OLS per pair from the same exact moments; slope's expression is
    // repeated inside intercept (identical double ops → identical value)
    "q_linreg" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = Seq(
        ("l_quantity", "l_extendedprice"),
        ("l_extendedprice", "l_discount"),
        ("l_discount", "l_tax"))
      val aggSql = (cols.map { c =>
        s"""CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE) AS s_$c,
           |         CAST(SUM(CAST($c*$c AS DECIMAL(18,4))) AS DOUBLE) AS q_$c""".stripMargin
      } ++ pairs.zipWithIndex.map { case ((x, y), i) =>
        s"CAST(SUM(CAST($x*$y AS DECIMAL(18,4))) AS DOUBLE) AS sxy_$i"
      }).mkString(",\n         ")
      val rowSql = pairs.zipWithIndex.map { case ((x, y), i) =>
        val slope = s"(n * sxy_$i - s_$x * s_$y) / (n * q_$x - s_$x * s_$x)"
        val r = s"""(n * sxy_$i - s_$x * s_$y)
                   |             / (sqrt(n * q_$x - s_$x * s_$x)
                   |                * sqrt(n * q_$y - s_$y * s_$y))""".stripMargin
        s"""SELECT '$y ~ $x' AS fit,
           |       round($slope, 6) AS slope,
           |       round((s_$y - ($slope) * s_$x) / n, 6) AS intercept,
           |       round(($r) * ($r), 6) AS r2
           |FROM m""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH m AS (
         |  SELECT count(*) AS n,
         |         $aggSql
         |  FROM lineitem
         |)
         |$rowSql""".stripMargin
    },

    // one filtered count per column over lineitem × the 1-row moments,
    // mean/std arithmetic identical to q_profile's
    "q_outliers" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val rowSql = cols.map { c =>
        s"""SELECT '$c' AS column_name,
           |       CAST(count(*) FILTER (
           |         abs($c - s_$c / nn_$c)
           |         > 3.0 * sqrt((q_$c - s_$c * s_$c / nn_$c) / (nn_$c - 1))
           |       ) AS BIGINT) AS n_outliers
           |FROM lineitem CROSS JOIN m""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH m AS (
         |  SELECT count(*) AS n,
         |         ${cols.map(profileAggSql).mkString(",\n         ")}
         |  FROM lineitem
         |)
         |$rowSql""".stripMargin
    },

    "q_pagerank" -> pagerankOracleSql,

    // BFS levels: UNION-dedup recursion with the same ≤6-hop horizon
    // as the engine's 6 relaxation rounds — both sides compute "exact
    // shortest hops if ≤ 6, absent otherwise"
    "q_bfs" -> bfsOracleSql,
    "q_sssp" -> ssspOracleSql,

    "q_hits" -> hitsOracleSql,

    "q_ppr" ->
      s"""WITH e0 AS (
         |  SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN orders   ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2
         |), ow AS (
         |  SELECT src, sum(w) AS outw FROM e0 GROUP BY src
         |), e AS (
         |  SELECT e0.src, dst, w, outw FROM e0 JOIN ow USING (src)
         |), nodes AS (
         |  SELECT n_nationkey AS node FROM nation
         |), seeds AS (
         |  SELECT n_nationkey AS node FROM nation
         |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
         |), ns AS (
         |  SELECT count(*) AS cnt FROM seeds
         |), nb AS (
         |  SELECT n.node,
         |         CASE WHEN s.node IS NOT NULL
         |              THEN (CAST('1' AS DOUBLE) - CAST('0.85' AS DOUBLE)) / ns.cnt
         |              ELSE CAST(0 AS DOUBLE) END AS base,
         |         CASE WHEN s.node IS NOT NULL
         |              THEN CAST('1' AS DOUBLE) / ns.cnt
         |              ELSE CAST(0 AS DOUBLE) END AS pr
         |  FROM nodes n LEFT JOIN seeds s USING (node) CROSS JOIN ns
         |), r0 AS (
         |  SELECT node, pr FROM nb
         |), ${(0 until 8).map(pprIterSql).mkString(", ")}
         |SELECT n_name, pr FROM r8 JOIN nation ON node = n_nationkey
         |ORDER BY pr DESC, n_name""".stripMargin,

    "q_not_in" ->
      """WITH ek AS (
        |  SELECT event_id, event_type,
        |         TRY_CAST(regexp_extract(props, '"k":\s*(-?[0-9]+)', 1) AS INT) AS k
        |  FROM events
        |)
        |SELECT event_id, k FROM ek
        |WHERE event_type = 'purchase'
        |  AND k NOT IN (SELECT k FROM ek
        |                WHERE event_type = 'error' AND k IS NOT NULL
        |                  AND k < 50)""".stripMargin,

    "q_triangles" ->
      """WITH und AS (
        |  SELECT DISTINCT least(s_nationkey, c_nationkey) AS a,
        |                  greatest(s_nationkey, c_nationkey) AS b
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE s_nationkey <> c_nationkey
        |)
        |SELECT count(*) AS n_triangles
        |FROM und e1 JOIN und e2 ON e1.b = e2.a
        |JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b""".stripMargin,

    "q_custdist" ->
      s"""SELECT c_count, count(*) AS custdist FROM (
         |  SELECT c_custkey, count(o_orderkey) AS c_count
         |  FROM customer LEFT OUTER JOIN orders
         |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
         |  GROUP BY c_custkey
         |) GROUP BY c_count
         |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_rollup_revenue" ->
      s"""SELECT r_name, n_name, $revenueSql AS revenue, COUNT(*) AS n_lineitems
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q_colocated_join" ->
      s"""SELECT o_orderkey, COUNT(*) AS n_items, $revenueSql AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderkey""".stripMargin,

    "q_zorder_box" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 1200 AND l_partkey BETWEEN 10 AND 150""".stripMargin,

    "q_range_tier" ->
      """WITH tiers(lo, hi, tier) AS (VALUES (0.0, 10.0, 'small'), (10.0, 25.0, 'mid'), (25.0, 60.0, 'large'))
        |SELECT tier, count(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN tiers ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY tier""".stripMargin,

    "q_semijoin" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,

    "q_left_join" ->
      """SELECT c_custkey, COALESCE(cnt, 0) AS n_urgent
        |FROM customer
        |LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders
        |           WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) u
        |  ON c_custkey = o_custkey""".stripMargin,

    "q_full_join" ->
      """WITH u AS (SELECT o_custkey, COUNT(*) AS cnt_u FROM orders
        |           WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
        |     l AS (SELECT o_custkey, COUNT(*) AS cnt_l FROM orders
        |           WHERE o_orderpriority = '5-LOW' GROUP BY o_custkey)
        |SELECT COALESCE(u.o_custkey, l.o_custkey) AS custkey,
        |       COALESCE(cnt_u, CAST(0 AS BIGINT)) AS n_urgent,
        |       COALESCE(cnt_l, CAST(0 AS BIGINT)) AS n_low
        |FROM u FULL OUTER JOIN l ON u.o_custkey = l.o_custkey""".stripMargin,

    "q_monthly_revenue" ->
      s"""SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS month,
         |       $revenueSql AS revenue, COUNT(*) AS n_lineitems
         |FROM lineitem GROUP BY month""".stripMargin,

    "q_salted_join" ->
      s"""SELECT o_orderpriority, $revenueSql AS revenue, COUNT(*) AS n_lineitems
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority""".stripMargin,

    "q_intersect" ->
      """SELECT doc_id FROM documents WHERE lang = 'en'
        |INTERSECT
        |SELECT doc_id FROM documents WHERE n_chars > 300""".stripMargin,

    "q_except" ->
      """SELECT doc_id FROM documents WHERE lang = 'en'
        |EXCEPT
        |SELECT doc_id FROM documents WHERE n_chars > 300""".stripMargin,

    "q_scalar_sub" ->
      """SELECT c_mktsegment, COUNT(*) AS n_above
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |                   FROM customer)
        |GROUP BY c_mktsegment""".stripMargin,

    "q_antijoin" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,

    "q_pivot" ->
      """SELECT l_returnflag,
        |       SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS "F",
        |       SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS "O"
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |         CAST(COUNT(*) AS DOUBLE) AS n_rows
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
        |UNION ALL
        |SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM a""".stripMargin,

    "q_cube_revenue" ->
      s"""SELECT r_name, n_name, $revenueSql AS revenue, COUNT(*) AS n_lineitems
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY CUBE (r_name, n_name)""".stripMargin,

    // grouping_id bit order (r_name, n_name) matches Spark's argument
    // order: (r_name) set → n_name aggregated → gid 1; (n_name) → gid 2
    "q_grouping_sets" ->
      s"""SELECT r_name, n_name,
         |  CAST(grouping(r_name) * 2 + grouping(n_name) AS BIGINT) AS gid,
         |  $revenueSql AS revenue, COUNT(*) AS n_lineitems
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY GROUPING SETS ((r_name), (n_name))""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        |       COUNT(l_extendedprice) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_winsorized" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |         round(quantile_cont(l_extendedprice, 0.05), 6) AS p05,
        |         round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l.l_returnflag, b.p05, b.p95,
        |       round(CAST(SUM(CAST(least(greatest(l_extendedprice, p05), p95)
        |                           AS DECIMAL(18,6))) AS DOUBLE)
        |             / count(*), 6) AS wmean,
        |       count(*) AS n
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q_mad" ->
      """WITH med AS (
        |  SELECT l_returnflag,
        |         round(quantile_cont(l_extendedprice, 0.5), 6) AS median
        |  FROM lineitem GROUP BY 1
        |), dev AS (
        |  SELECT l.l_returnflag, abs(l.l_extendedprice - m.median) AS d
        |  FROM lineitem l JOIN med m USING (l_returnflag)
        |)
        |SELECT d.l_returnflag, m.median,
        |       round(quantile_cont(d.d, 0.5), 6) AS mad,
        |       COUNT(d.d) AS n
        |FROM dev d JOIN med m USING (l_returnflag)
        |GROUP BY 1, 2""".stripMargin,

    "q_user_lag" -> userLagOracleSql,

    // epoch-µs RANGE bound ≡ INTERVAL 30 DAY on the µs-resolution
    // timestamps (both are exact 30·86400·10^6 µs arithmetic — no tz/DST
    // in play on TIMESTAMP WITHOUT TIME ZONE)
    "q_trailing_revenue" ->
      """SELECT o_orderkey, o_custkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trailing_revenue,
        |       COUNT(*) OVER w AS n_trailing
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)""".stripMargin,

    // the ordering is made total by the orderkey tie-break, so ntile /
    // cume_dist / first_value are all deterministic; cume rounded at the
    // boundary per the float parity rules
    "q_window_shapes" ->
      """SELECT o_orderkey, o_custkey,
        |       CAST(ntile(4) OVER w AS INT) AS quartile,
        |       round(cume_dist() OVER w, 6) AS cume,
        |       first_value(o_totalprice) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  SUM(l_quantity) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // independent formulation of the as-of-batch-1 store read: batches
    // are the mod-3 order-key slices, so "as of batch 1" is the raw
    // table filtered to slices 0 and 1 — the oracle never sees the store
    "q_facts_asof" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  SUM(l_quantity) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        |  AND l_orderkey % 3 <= 1
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join" ->
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
         |  $revenueSql AS revenue
         |FROM customer
         |JOIN orders   ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY l_orderkey, orderdate
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_multijoin" ->
      s"""SELECT r_name, n_name, $revenueSql AS revenue, COUNT(*) AS n_lineitems
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name""".stripMargin,

    // ---- TPC-DS starter deck: classic-form oracles (q67 / q77 / q1 /
    // moving-aggregate shapes). COALESCE in the rank order makes the
    // NULL subtotal rows' placement explicit — the engines' default
    // NULL sort order differs, and rank must be a total order.
    "q_cat_top_rank" ->
      """WITH leaf AS (
        |  SELECT p_type, p_brand,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev,
        |    COUNT(*) AS cnt
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_type, p_brand
        |), rolled AS (
        |  SELECT p_type, p_brand,
        |    CAST(SUM(rev) AS DOUBLE) AS revenue,
        |    CAST(SUM(cnt) AS BIGINT) AS n_items
        |  FROM leaf GROUP BY ROLLUP (p_type, p_brand)
        |)
        |SELECT p_type, p_brand, revenue, n_items, rk
        |FROM (SELECT *, CAST(rank() OVER (PARTITION BY p_type
        |        ORDER BY revenue DESC, COALESCE(p_brand, '')) AS INT) AS rk
        |      FROM rolled) ranked
        |WHERE rk <= 3""".stripMargin,

    "q_channel_report" ->
      """WITH conformed AS (
        |  SELECT 'store' AS channel,
        |         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS sales_dec,
        |         COUNT(*) AS txns
        |  FROM orders GROUP BY 2
        |  UNION ALL
        |  SELECT 'catalog',
        |         strftime(date_trunc('month', l_shipdate), '%Y-%m-%d'),
        |         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(30,4)),
        |         COUNT(*)
        |  FROM lineitem GROUP BY 2
        |  UNION ALL
        |  SELECT 'web',
        |         strftime(date_trunc('month', ts), '%Y-%m-%d'),
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(30,4)),
        |         COUNT(*)
        |  FROM events WHERE event_type = 'purchase' GROUP BY 2
        |)
        |SELECT channel, month,
        |       CAST(SUM(sales_dec) AS DOUBLE) AS sales,
        |       CAST(SUM(txns) AS BIGINT) AS txns
        |FROM conformed
        |GROUP BY ROLLUP (channel, month)""".stripMargin,

    "q_state_returns" ->
      """WITH cust_ret AS (
        |  SELECT o_custkey,
        |         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS ret_dec
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY o_custkey
        |), attributed AS (
        |  SELECT c_custkey, c_name, n_name, ret_dec
        |  FROM cust_ret
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |), navg AS (
        |  SELECT n_name AS nk,
        |         CAST(SUM(ret_dec) AS DOUBLE) / COUNT(*) AS nation_avg
        |  FROM attributed GROUP BY n_name
        |)
        |SELECT c_custkey, c_name, n_name,
        |       CAST(ret_dec AS DOUBLE) AS returned_rev,
        |       round(nation_avg, 6) AS nation_avg
        |FROM attributed JOIN navg ON n_name = nk
        |WHERE CAST(ret_dec AS DOUBLE) > nation_avg * 1.2""".stripMargin,

    "q_store_sales_window" ->
      """WITH leaf AS (
        |  SELECT n_name, date_trunc('month', l_shipdate) AS m,
        |         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev_dec
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, date_trunc('month', l_shipdate)
        |)
        |SELECT n_name, strftime(m, '%Y-%m-%d') AS month,
        |       CAST(rev_dec AS DOUBLE) AS revenue,
        |       round(CAST(SUM(rev_dec) OVER w3 AS DOUBLE) / COUNT(*) OVER w3, 6) AS ma3,
        |       CAST(SUM(rev_dec) OVER wc AS DOUBLE) AS cum_revenue
        |FROM leaf
        |WINDOW w3 AS (PARTITION BY n_name ORDER BY m
        |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |       wc AS (PARTITION BY n_name ORDER BY m
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
  )
}

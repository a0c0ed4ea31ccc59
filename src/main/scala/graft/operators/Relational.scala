package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator breadth over the TPC-H-ish tables (SURVEY.md §7.3
  * M1) — every shape the reference lacks (§2.2: no joins, no projections,
  * no windows, no set ops, no scalar functions), expressed declaratively
  * so Catalyst handles pushdown/pruning/join-strategy selection.
  *
  * Scale notes (100 TB north star):
  *  - dimension tables (region/nation/customer/supplier/part) are
  *    broadcast explicitly — no shuffle of the fact side;
  *  - fact-fact joins (lineitem ⋈ orders) are left to sort-merge with
  *    AQE skew handling; both sides shuffle once on the join key;
  *  - aggregates rely on partial aggregation (map-side combine);
  *  - doubles in oracle-compared outputs are rounded to pin
  *    cross-engine float summation nondeterminism (SURVEY.md §7.5).
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: filter → partial agg → final agg.
    * Predicate on l_shipdate is pushed to the parquet scan. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("sum_disc_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax")), 2).as("sum_charge"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_extendedprice"), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Projection + conjunctive predicates; both pushed to the scan
    * (ReadSchema keeps 4 of 11 columns). */
  def q2FilterProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_quantity" > 45.0 && $"l_discount" >= 0.05 &&
        $"l_shipdate" >= lit("2000-01-01").cast("timestamp"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Broadcast hash join: orders ⋈ customer (dim). The build side is
    * explicit `broadcast()` — at 100 TB the orders side never shuffles. */
  def q3JoinBroadcast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(round(sum($"o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"c_mktsegment")
  }

  /** Fact-fact join lineitem ⋈ orders: sort-merge on the shuffled key,
    * AQE coalesces/splits skewed partitions at runtime. */
  def q4JoinLarge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"o_orderstatus")
  }

  /** TPC-H Q5-shaped 6-way star join: one fact shuffle, all dimension
    * hops broadcast. Revenue per nation within one region. */
  def q5StarJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val nat = Tables.nation(s, dir)
    val reg = Tables.region(s, dir)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey" &&
        $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "ASIA")
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
      .orderBy($"n_name")
  }

  /** Left-semi join (EXISTS): customers having at least one high-value
    * order. Only keys cross the shuffle; no row multiplication. */
  def q6SemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigOrders = Tables.orders(s, dir).filter($"o_totalprice" > 400000.0)
    Tables.customer(s, dir)
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Left-anti join (NOT EXISTS): parts with no high-quantity shipment
    * (a plain "never shipped" is empty at every sf — all parts ship). */
  def q7AntiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigShip = Tables.lineitem(s, dir).filter($"l_quantity" > 49.0)
    Tables.part(s, dir)
      .join(bigShip, $"p_partkey" === $"l_partkey", "left_anti")
      .select($"p_partkey", $"p_name", $"p_brand")
      .orderBy($"p_partkey")
  }

  /** Window ranking: top-3 parts by revenue within each brand.
    * row_number over (brand, revenue desc, partkey) — full tie-break
    * keys make the result deterministic across engines. */
  def q8WindowTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_partkey")
      .agg(round(sum($"l_extendedprice"), 2).as("revenue"))
    val w = Window.partitionBy($"p_brand")
      .orderBy($"revenue".desc, $"p_partkey")
    rev.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"p_brand", $"p_partkey", $"revenue", $"rk")
      .orderBy($"p_brand", $"rk")
  }

  /** Window running aggregate: cumulative quantity per supplier in
    * (shipdate, orderkey, linenumber) order — rows-frame prefix sum. */
  def q9WindowRunning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, dir)
      .filter($"l_suppkey" <= 3)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
        round(sum($"l_quantity").over(w), 2).as("running_qty"))
      .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
  }

  /** Exact + approximate distinct aggregation. HLL sketch
    * (approx_count_distinct) is the 100 TB path: mergeable, fixed
    * memory, one pass — included as its own column to pin the sketch
    * plumbing; exact countDistinct is the oracle-checked one. */
  def q10Distinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** ROLLUP: hierarchical subtotals (flag → flag,status → grand total).
    * grouping() columns disambiguate NULL-as-subtotal from data NULLs. */
  def q11Rollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"sum_qty", $"n")
      .orderBy($"returnflag", $"linestatus")
  }

  /** CUBE: all grouping-set combinations of (orderstatus, orderpriority). */
  def q12Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(round(sum($"o_totalprice"), 2).as("total"), count(lit(1)).as("n"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as(    "orderstatus"),
        coalesce($"o_orderpriority", lit("ALL")).as("orderpriority"),
        $"total", $"n")
      .orderBy($"orderstatus", $"orderpriority")
  }

  /** Set operations: nations of customers ∪/∩/− nations of suppliers,
    * tagged and unioned into one deterministic result. */
  def q13SetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val custNations = Tables.customer(s, dir).select($"c_nationkey".as("nationkey")).distinct()
    val supNations = Tables.supplier(s, dir).select($"s_nationkey".as("nationkey")).distinct()
    val u = custNations.union(supNations).distinct().withColumn("op", lit("union"))
    val i = custNations.intersect(supNations).withColumn("op", lit("intersect"))
    val e = custNations.except(supNations).withColumn("op", lit("except"))
    u.union(i).union(e).orderBy($"op", $"nationkey")
  }

  /** Scalar function library tour: string/date/math built-ins, all
    * whole-stage-codegen'd (no UDFs). */
  def q14ScalarFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter($"o_orderkey" <= 500)
      .select(
        $"o_orderkey",
        upper(substring($"o_orderpriority", 1, 3)).as("prio3"),
        length($"o_orderstatus").cast("long").as("status_len"),
        concat_ws("-", $"o_orderstatus", $"o_orderpriority").as("tag"),
        year($"o_orderdate").cast("long").as("yr"),
        month($"o_orderdate").cast("long").as("mo"),
        dayofmonth($"o_orderdate").cast("long").as("dom"),
        round(abs($"o_totalprice" - 1000.0), 2).as("abs_diff"),
        round(sqrt($"o_totalprice"), 4).as("sqrt_price"),
        floor($"o_totalprice" / 1000.0).cast("long").as("kbucket"))
      .orderBy($"o_orderkey")
  }

  /** Global top-k: ORDER BY + LIMIT compiles to TakeOrderedAndProject —
    * per-partition heaps, only k rows to the driver; no global sort. */
  def q15TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .limit(25)
  }

  /** GROUP BY + HAVING on a joined fact. */
  def q16Having(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_partkey")
      .agg(round(sum($"l_quantity"), 2).as("total_qty"), count(lit(1)).as("n"))
      .filter($"total_qty" > 150.0)
      .orderBy($"l_partkey")
  }

  /** Correlated-style aggregate subquery (TPC-H Q17 shape): lineitems
    * below 20% of their part's average quantity. The subquery becomes a
    * pre-aggregate joined back on the grouping key — no per-row re-scan.
    * Deliberately NO broadcast hint: `avg_qty` has one row per distinct
    * l_partkey, i.e. fact-table cardinality — forcing a broadcast OOMs
    * at 100 TB. Unhinted, AQE broadcasts when the aggregate is actually
    * small and falls back to a shuffled join on l_partkey otherwise
    * (both sides already hash on the same key, so the pre-aggregate's
    * exchange is reused, not doubled). */
  def q17SubqueryAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val avgQty = li.groupBy($"l_partkey".as("ap_partkey"))
      .agg(avg($"l_quantity").as("avg_qty"))
    li.join(avgQty, $"l_partkey" === $"ap_partkey")
      .filter($"l_quantity" < $"avg_qty" * 0.2)
      .select($"l_orderkey", $"l_partkey", $"l_linenumber", $"l_quantity")
      .orderBy($"l_orderkey", $"l_partkey", $"l_linenumber")
  }

  /** SQL front-door + GROUPING SETS (the explicit form behind
    * rollup/cube): the engine's tables work as temp views for users
    * who speak SQL rather than the DataFrame API. */
  def q19GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    s.sql("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             round(sum(l_extendedprice), 2) AS total,
             count(1) AS n
      FROM graft_lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
      ORDER BY returnflag, linestatus""")
  }

  /** Mergeable sketches — the 100 TB substitutes for exact holistic
    * aggregates: HLL approximate distinct and approximate quantiles,
    * both fixed-memory, single-pass, partition-mergeable. No SQL
    * oracle (sketch internals are engine-specific); the exact
    * counterparts are oracle-checked in q10. */
  def q20Sketches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey").as("approx_parts"),
        approx_count_distinct($"l_orderkey").as("approx_orders"),
        // one sketch serves both quantiles — half the buffer work of
        // two separate percentile_approx aggregates
        percentile_approx($"l_extendedprice", array(lit(0.5), lit(0.95)), lit(1000))
          .as("price_quantiles"))
      .select($"l_returnflag", $"approx_parts", $"approx_orders",
        element_at($"price_quantiles", 1).as("p50_price"),
        element_at($"price_quantiles", 2).as("p95_price"))
      .orderBy($"l_returnflag")
  }

  /** Pivot (columns from data values): order counts per status,
    * pivoted by priority. Fixed value list so the pivot needs no extra
    * values-discovery job and the output schema is static — the only
    * form that's sane at scale. */
  def q21Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
      .select($"o_orderstatus",
        $"1-URGENT".as("p1_urgent"), $"2-HIGH".as("p2_high"),
        $"3-MEDIUM".as("p3_medium"), $"4-NOT SPECIFIED".as("p4_notspec"),
        $"5-LOW".as("p5_low"))
      .orderBy($"o_orderstatus")
  }

  /** Holistic aggregation: per-group ordered distinct concatenation
    * (listagg). collect_set is the one agg here whose buffer grows with
    * group cardinality — bounded (≤2 statuses, ≤5 priorities), which is
    * the only regime where holistic aggs are scale-safe; unbounded
    * cases belong to sketches (q20) or explicit salting (wc_salted). */
  def q22ListAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .agg(
        array_join(sort_array(collect_set($"o_orderpriority")), ",").as("priorities"),
        count(lit(1)).as("n"))
      .orderBy($"o_orderstatus")
  }

  /** Window-function feature engineering: lag/lead neighbors, ntile
    * quartiles, percent_rank and cume_dist per customer order history —
    * the remaining ranking/offset window shapes (q8 covers row_number
    * top-k, q9 covers running frames). One shuffle on the partition key;
    * all five functions share a single Window spec so they evaluate in
    * one WindowExec pass. */
  def q23WindowFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        lag($"o_totalprice", 1).over(w).as("prev_price"),
        lead($"o_totalprice", 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Runtime Bloom-filter join pruning — the 100 TB fact-fact join
    * shape. A selective predicate on orders feeds Catalyst's
    * `InjectRuntimeFilter`: a `bloom_filter_agg` subquery over the
    * filtered build side is planted as a `might_contain` filter on the
    * lineitem probe side BELOW its shuffle exchange, so probe rows that
    * cannot match are dropped before they are ever shuffled. At 100 TB
    * (where neither side broadcasts) that turns a full fact-table
    * shuffle into a shuffle of the ~matching fraction — the single
    * biggest lever on a selective fact-fact join after partition
    * pruning. Pruning only: the result is byte-identical to the plain
    * join, so the DuckDB oracle checks it like any other query.
    *
    * The injection thresholds are sized for real clusters
    * (applicationSideScanSizeThreshold defaults to 10 GB), so at test
    * scale the rule is scoped on and the optimized plan is forced
    * inside the scope; session conf is restored before returning
    * (PlanSpec pins both the injection and the restoration).
    * autoBroadcastJoinThreshold is scoped off because the rule only
    * fires for probably-shuffled joins — exactly the 100 TB planning
    * state, where a fact-scaled build side can never broadcast. */
  /** The planning confs q24 needs live while its plan is optimized:
    * broadcast off (a fact-scaled build side can never broadcast at
    * 100 TB) and the bloom-filter scan threshold floored so the rule
    * fires at test scale. Public because actions that build a FRESH
    * QueryExecution — any DataFrameWriter path, e.g. Bench's noop sink
    * or Verify's parquet write — re-optimize under the session conf
    * and would silently drop the injected filter; callers that time or
    * inspect the write path must wrap the action in this scope
    * ([[graft.SparkEntry.run]] does, so Bench's q24 numbers measure
    * the filtered join). */
  def withBloomPruneConfs[T](s: SparkSession)(body: => T): T = {
    val scoped = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    // conf.get(k) resolves SQLConf defaults, so restoring through it
    // would leave an unset key explicitly set; getAll holds only
    // explicit settings — None restores by unset
    val explicit = s.conf.getAll
    val prev = scoped.map { case (k, _) => k -> explicit.get(k) }
    try {
      scoped.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  def q24BloomPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withBloomPruneConfs(s) {
      val urgent = Tables.orders(s, dir)
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
      val joined = Tables.lineitem(s, dir)
        .join(urgent, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"l_returnflag")
      // Optimization AND physical planning run while the scoped
      // thresholds are live — queryExecution caches both, so actions
      // that reuse THIS QueryExecution (collect, PlanSpec inspection)
      // keep the injected bloom filter and the shuffle-join shape
      // after the conf is restored. Caveat: DataFrameWriter actions
      // build a fresh QueryExecution and re-optimize under the
      // restored conf — write-path callers must re-enter
      // withBloomPruneConfs around the action (SparkEntry.run does). (AQE may
      // still broadcast at runtime if the build side proves small —
      // the same call a real cluster would make.)
      joined.queryExecution.executedPlan
      joined
    }
  }

  /** Correlated LATERAL derived table (SQL:2016): top-2 line items
    * per order by price — the "for each row, run this parameterized
    * subquery" surface users port from Postgres/DuckDB. Catalyst
    * DECORRELATES the correlated limit into an equi-join +
    * per-order rank prune rather than executing the subquery per row
    * (plan-asserted in the spec layer: no nested-loop join, a
    * WindowGroupLimit instead) — which is exactly why the construct
    * survives 100 TB: cost is one fact-fact join, not |orders|
    * subquery executions. */
  def q25Lateral(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    s.sql("""
      SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
      FROM graft_orders o,
      LATERAL (SELECT l_linenumber, l_extendedprice
               FROM graft_lineitem
               WHERE l_orderkey = o.o_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber
               LIMIT 2) t
      ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber""")
  }

  /** Null-handling semantics: conditional NULL injection, coalesce,
    * null-safe equality, count(col) vs count(*) divergence. */
  def q18Nulls(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus",
        when($"o_totalprice" > 300000.0, $"o_totalprice").as("big_price"))
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_all"),
        count($"big_price").as("n_big"),
        round(coalesce(sum($"big_price"), lit(0.0)), 2).as("big_total"))
      .orderBy($"o_orderstatus")
  }
}

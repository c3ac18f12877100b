package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** General analytics breadth over the TPC-H-ish star schema: multi-agg
  * group-by, broadcast + shuffle joins, multi-way join with top-k.
  *
  * Money convention for oracle determinism: 2-decimal doubles become exact
  * integer cents via `round(x*100)` — the per-row double multiply is
  * bit-identical in both engines, `round` lands on the true cent (error
  * ~1e-13, never at a .5 boundary for 2-decimal inputs), and integer sums
  * are order-independent. Double sums of non-integral values are never
  * compared raw.
  */
object TpchQueries {

  /** exact integer cents from a 2-decimal double */
  private def cents(c: Column): Column = round(c * lit(100), 0).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-brand return rate with a 95% WILSON interval — the binomial CI
    // that stays inside [0,1] at small n, unlike the normal
    // approximation. Counts are exact integers; the interval is one
    // double chain per brand row.
    // Empirical-Bayes shrunk per-brand return rates: the beta-binomial
    // MoM prior pulls small brands toward the pooled rate exactly as far
    // as the data's overdispersion warrants (EvalOps.ebShrinkRates) —
    // the ranking-stable companion to return_rates' Wilson intervals.
    "return_rates_eb" -> ((s, dir) => {
      val j = Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      graft.operators.EvalOps.ebShrinkRates(
        j.groupBy(col("p_brand").as("grp"))
          .agg(count(lit(1)).as("n"), sum(col("r")).as("x")))
    }),
    "return_rates" -> ((s, dir) => {
      val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
      val j = Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      val g = j.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("r")).as("k"))
      val z = lit(1.959964)
      val zz = z * z
      val phat = dbl(col("k")) / dbl(col("n"))
      val denom = lit(1.0) + zz / dbl(col("n"))
      val center = (phat + zz / (lit(2.0) * dbl(col("n")))) / denom
      val half = z * sqrt(phat * (lit(1.0) - phat) / dbl(col("n")) +
        zz / (lit(4.0) * dbl(col("n")) * dbl(col("n")))) / denom
      g.select(col("p_brand"), col("n"), col("k"),
        round(phat, 6).as("return_rate"),
        round(center - half, 6).as("ci_lo"),
        round(center + half, 6).as("ci_hi"))
        .orderBy(col("p_brand"))
    }),
    // Discount elasticity per brand: exact-OLS slope of quantity on
    // discount — does discounting actually move volume, where?
    "q_elasticity" -> ((s, dir) =>
      // round 14: respread lineitem BEFORE the broadcast join (the joined
      // relation's plan-time stats are product-inflated, so the route
      // must read the scan side) — probe + decimal OLS products then run
      // on the parallel side of the exchange.
      graft.operators.ProfileOps.olsByGroup(
        graft.core.Spread.respread(
          Tables.lineitem(s, dir),
          Seq(col("l_orderkey"), col("l_linenumber")),
          "q_elasticity.spread")
          .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey")),
        "p_brand", "l_discount", "l_quantity")),
    // Market-efficiency audit: the 20 parts whose UNIT price disperses
    // most across sales (coefficient of variation from decimal-exact
    // sufficient stats; cents-quantized unit price so both engines bin
    // identically). TakeOrdered top-20 — no global sort.
    "price_dispersion" -> ((s, dir) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
      val x = Tables.lineitem(s, dir).filter(col("l_quantity") > 0)
        .select(col("l_partkey"),
          (col("l_extendedprice") * lit(100.0) / col("l_quantity"))
            .cast("bigint").as("x"))
      val g = x.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(dec(col("x")) * dec(col("x"))).as("sxx"))
        .filter(col("n") >= 5)
      val mu = dbl(col("sx")) / dbl(col("n"))
      val sd = sqrt(
        dbl(dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx"))) /
          (dbl(col("n")) * dbl(col("n") - lit(1L))))
      g.select(col("l_partkey"), col("n"),
        round(mu / lit(100.0), 6).as("mean_unit_price"),
        round(sd / mu, 6).as("cv"))
        .orderBy(col("cv").desc, col("l_partkey")).limit(20)
    }),
    // Supply-chain resilience: how many distinct suppliers does each part
    // actually ship through, bucketed — and what share of parts is
    // single-sourced? One distinct-pair aggregation (map-side md5-free:
    // the (part, supp) key is already compact ints), then a bounded
    // per-count rollup; the share rides a ≤ #counts-row window.
    "supply_redundancy" -> ((s, dir) => {
      val perPart = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_suppliers"))
      val all = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      perPart.groupBy(col("n_suppliers")).agg(count(lit(1)).as("n_parts"))
        .select(col("n_suppliers"), col("n_parts"),
          round(col("n_parts").cast("double") /
            sum(col("n_parts")).over(all).cast("double"), 6).as("part_share"))
        .orderBy(col("n_suppliers"))
    }),
    // Supplier-revenue concentration per region: Herfindahl–Hirschman
    // index of each region's supplier market shares (+ the 1/HHI
    // "effective supplier count"). Exact cents² revenue, fixed-size dims
    // broadcast; shares never materialize — HHI = Σr²/ (Σr)² from two
    // decimal-exact sums per region.
    "region_hhi" -> ((s, dir) => {
      val geo = broadcast(
        Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
          .join(broadcast(Tables.nation(s, dir)
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)
            .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("r_name")))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
      val li = Tables.lineitem(s, dir)
        .select(col("l_suppkey"),
          (round(col("l_extendedprice") * lit(100), 0).cast("long") *
            (lit(100L) - round(col("l_discount") * lit(100), 0).cast("long")))
            .as("rev_c2"))
      val rs = li.join(geo, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("r_name"), col("s_suppkey"))
        .agg(sum(col("rev_c2")).as("rs"))
      rs.groupBy(col("r_name"))
        .agg(
          count(lit(1)).as("n_suppliers"),
          sum(dec(col("rs"))).as("tot"),
          sum(dec(col("rs")) * dec(col("rs"))).as("sq"))
        .select(col("r_name"), col("n_suppliers"),
          round(dbl(col("sq")) / (dbl(col("tot")) * dbl(col("tot"))), 6).as("hhi"),
          round(dbl(col("tot")) * dbl(col("tot")) / dbl(col("sq")), 6)
            .as("effective_suppliers"))
        .orderBy(col("r_name"))
    }),
    // Pricing summary (TPC-H Q1 shape): wide multi-aggregate group-by with
    // a pushed-down timestamp predicate.
    "q1_pricing" -> ((s, dir) => {
      Tables
        .lineitem(s, dir)
        .filter(col("l_shipdate") <= expr("timestamp'1998-09-02 00:00:00'"))
        .select(
          col("l_returnflag"),
          col("l_linestatus"),
          col("l_quantity"),
          cents(col("l_extendedprice")).as("ext_c"),
          cents(col("l_discount")).as("disc_c"),
          cents(col("l_tax")).as("tax_c"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(col("ext_c")).as("sum_base_cents"),
          sum(col("ext_c") * (lit(100L) - col("disc_c"))).as("sum_disc_c2"),
          sum(col("ext_c") * (lit(100L) - col("disc_c")) * (lit(100L) + col("tax_c")))
            .as("sum_charge_c3"),
          count(lit(1)).as("count_order"),
          round(sum(col("l_quantity")) / count(lit(1)).cast("double"), 6).as("avg_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    // Forecast-revenue (TPC-H Q6 shape): pure filter + single aggregate —
    // the all-pushdown plan (predicates on three columns reach the scan).
    "q6_forecast" -> ((s, dir) => {
      Tables
        .lineitem(s, dir)
        .filter(
          col("l_shipdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
            col("l_shipdate") < expr("timestamp'1997-01-01 00:00:00'") &&
            col("l_quantity") < 24)
        .select(cents(col("l_extendedprice")).as("ext_c"), cents(col("l_discount")).as("disc_c"))
        .filter(col("disc_c") >= 5 && col("disc_c") <= 7)
        .agg(sum(col("ext_c") * col("disc_c")).as("revenue_c2"), count(lit(1)).as("n"))
    }),
    // Shipping-priority top-10 (TPC-H Q3 shape): broadcast dim join +
    // shuffle fact join + aggregate + global top-k.
    "q3_top_orders" -> ((s, dir) => {
      val cust = Tables
        .customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables
        .orders(s, dir)
        .filter(col("o_orderdate") < expr("timestamp'1998-01-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables
        .lineitem(s, dir)
        .filter(col("l_shipdate") > expr("timestamp'1998-01-01 00:00:00'"))
        .select(
          col("l_orderkey"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("rev_c2"))
      // customer scales with SF — no broadcast hint; AQE broadcasts the
      // filtered side at runtime when it is small and shuffles when not
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(col("rev_c2")).as("revenue_c2"))
        .orderBy(col("revenue_c2").desc, col("o_orderkey"))
        .limit(10)
    }),
    // Hierarchical totals via ROLLUP (grouping-sets family): per
    // (flag, status), per flag, and grand total in one aggregation pass.
    "q1_rollup" -> ((s, dir) => {
      Tables
        .lineitem(s, dir)
        .select(
          col("l_returnflag"),
          col("l_linestatus"),
          col("l_quantity"),
          cents(col("l_extendedprice")).as("ext_c"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(col("ext_c")).as("sum_base_cents"))
        // label the rollup's NULL markers: the data has no real nulls, and
        // a null-free result avoids engine-specific NULL sort order
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
          col("n"),
          col("sum_qty"),
          col("sum_base_cents"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    // Promotion revenue share (TPC-H Q14 shape): fact⋈dim join with a
    // conditional aggregate — covers the part table. Part scales with SF
    // so no broadcast hint; AQE picks the side at runtime.
    "q14_promo" -> ((s, dir) => {
      val li = Tables
        .lineitem(s, dir)
        .filter(
          col("l_shipdate") >= expr("timestamp'1997-01-01 00:00:00'") &&
            col("l_shipdate") < expr("timestamp'1997-04-01 00:00:00'"))
        .select(
          col("l_partkey"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("rev_c2"))
      li.join(Tables.part(s, dir).select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev_c2")).otherwise(0L))
            .as("promo_c2"),
          sum(col("rev_c2")).as("total_c2"))
        .select(
          col("promo_c2"),
          col("total_c2"),
          round(
            lit(100.0) * col("promo_c2").cast("double") / col("total_c2").cast("double"),
            6).as("promo_pct"))
    }),
    // Large-volume customers (TPC-H Q18 shape): aggregate-filtered
    // semi-join — the HAVING subquery becomes a grouped relation joined
    // back to orders/customer; top-20 via TakeOrderedAndProject.
    "q18_big_orders" -> ((s, dir) => {
      val big = Tables
        .lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
        .filter(col("total_qty") > 300)
      big
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(
          col("c_custkey"),
          col("o_orderkey"),
          col("o_orderdate"),
          col("total_qty"),
          cents(col("o_totalprice")).as("total_cents"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
    }),
    // Rolling 7-day revenue average — the RANGE-frame window surface
    // (value-based frames handle calendar gaps that ROWS frames silently
    // get wrong): daily revenue in exact cents, then a trailing
    // 6-preceding-days RANGE window keyed on the integer day number.
    // Like hist_deciles, the unpartitioned window runs over the
    // AGGREGATED relation (≤ #days rows), never the raw fact table; at
    // scale the day axis could be range-partitioned with boundary overlap
    // if #days ever mattered.
    "daily_revenue_ma" -> ((s, dir) => {
      val daily = Tables
        .orders(s, dir)
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_c"))
        .withColumn("day_num", (col("day").cast("long") / lit(86400L)).cast("long"))
      val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
      daily
        .withColumn("n7", count(lit(1)).over(w))
        .withColumn("s7", sum(col("revenue_c")).over(w))
        .select(
          col("day"),
          col("revenue_c"),
          col("n7"),
          round(col("s7").cast("double") / col("n7").cast("double"), 6).as("ma7"))
        .orderBy(col("day"))
    }),
    // Returned-item revenue (TPC-H Q10 shape): who cost us the most in
    // returns — lineitem filtered to returnflag R, joined through orders
    // to customer and the fixed-size nation dim (explicit broadcast),
    // grouped per customer, top-20 via TakeOrderedAndProject. Revenue in
    // exact cents² (the cents pattern — order-independent integer sums).
    "q10_returns" -> ((s, dir) => {
      val li = Tables
        .lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select(
          col("l_orderkey"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("rev_c2"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables
        .customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val nation =
        broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("rev_c2")).as("revenue_c2"))
        .orderBy(col("revenue_c2").desc, col("c_custkey"))
        .limit(20)
    }),
    // Order-priority check (TPC-H Q4 shape): orders from 1996 with at
    // least one lineitem shipped after the order date — EXISTS as a
    // left_semi hash join (one probe per order, no fan-out on multi-item
    // orders), counted per priority.
    "q4_priority" -> ((s, dir) => {
      val ord = Tables
        .orders(s, dir)
        .filter(
          col("o_orderdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
            col("o_orderdate") < expr("timestamp'1997-01-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      ord
        .join(
          li,
          col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),
    // Rank-function breadth: percent_rank + ntile quartiles of customer
    // account balance within each market segment, ties broken by custkey.
    // Only 5 segments exist, so the window form sorts customers/5 per task
    // — dimension-scale at 100×. Instead RankOps.rowsAboveRank recovers the
    // EXACT per-segment position (bin running total + a rank within the
    // boundary bins only) for rows past the ntile(4) tile-3 boundary rank;
    // percent_rank is then the rational (rank−1)/(n−1) of exact integers —
    // with a unique (bal_c, custkey) key, rank() ≡ row_number ≡ gr_pos —
    // deterministic at 6 decimals. An n=1 segment emits nothing (its cut
    // rank is 1), so the n−1 denominator never hits zero.
    "customer_balance_pct" -> ((s, dir) => {
      import graft.operators.RankOps
      val base = graft.operators.DedupOps.registerCache(
        Tables
          .customer(s, dir)
          .select(
            col("c_custkey"),
            col("c_mktsegment"),
            cents(col("c_acctbal")).as("bal_c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // ntile(4) tile 3 ends at rank 3q + min(3, n mod 4); rows above it
      // are the top quartile (integer `div`/`%` — Column `/` is double);
      // gr_n rides along from the operator's single stats pass
      RankOps
        .rowsAboveRank(
          base,
          Seq("c_mktsegment"),
          Seq("bal_c", "c_custkey"),
          expr("gr_n div 4") * 3 + least(lit(3L), expr("gr_n % 4")))
        .withColumn(
          "pct_rank",
          round(
            (col("gr_pos") - 1).cast("double") / (col("gr_n") - 1).cast("double"),
            6))
        .select(col("c_mktsegment"), col("c_custkey"), col("bal_c"), col("pct_rank"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    }),
    // Anti-join surface: customers who placed NO orders in 1998 —
    // Spark executes the left_anti as a broadcast/shuffled hash anti-join
    // (NOT EXISTS without a subquery re-scan per row).
    "q_no_orders" -> ((s, dir) => {
      val ord98 = Tables
        .orders(s, dir)
        .filter(
          col("o_orderdate") >= expr("timestamp'1998-01-01 00:00:00'"))
        .select(col("o_custkey"))
      Tables
        .customer(s, dir)
        .join(ord98, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_inactive"))
        .orderBy(col("c_mktsegment"))
    }),
    // Set operations: viewer/purchaser audience overlap (EXCEPT /
    // INTERSECT / UNION over distinct user sets).
    "set_ops" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def users(t: String) =
        ev.filter(col("event_type") === t).select(col("user_id")).distinct()
      val viewOnly = users("view").except(users("purchase")).agg(count(lit(1)).as("n_view_only"))
      val both = users("view").intersect(users("purchase")).agg(count(lit(1)).as("n_both"))
      val any = users("view").union(users("purchase")).distinct().agg(count(lit(1)).as("n_any"))
      viewOnly.crossJoin(both).crossJoin(any)
    }),
    // Local-supplier volume (TPC-H Q5 shape): 6-way join through
    // region→nation→customer→orders→lineitem→supplier with the
    // same-nation constraint, grouped by nation.
    "q5_region_volume" -> ((s, dir) => {
      val nation = broadcast(
        Tables
          .nation(s, dir)
          .join(
            broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name")))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      val ord = Tables
        .orders(s, dir)
        .filter(
          col("o_orderdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
            col("o_orderdate") < expr("timestamp'1997-01-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables
        .lineitem(s, dir)
        .select(
          col("l_orderkey"),
          col("l_suppkey"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("rev_c2"))
      // nation×region is fixed-size (25×5 rows) → explicit broadcast;
      // customer/supplier scale with SF → AQE decides at runtime
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev_c2")).as("revenue_c2"))
        .orderBy(col("revenue_c2").desc, col("n_name"))
    }),
    // National market share (TPC-H Q8 shape): the deepest join tree in the
    // suite — lineitem through part, orders, customer, nation×region (the
    // market filter), supplier, and the supplier-nation dim, grouped by
    // order year. Catalyst owns the join order; the fixed-size nation and
    // region relations get explicit broadcasts, everything else is left to
    // AQE. The share division is the only float op, over exact cents²
    // sums, rounded to 6.
    "q8_market_share" -> ((s, dir) => {
      val marketNations = broadcast(
        Tables
          .nation(s, dir)
          .join(
            broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cn_key")))
      val suppNation = broadcast(
        Tables.nation(s, dir)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
      val std = Tables.part(s, dir)
        .filter(col("p_type") === "STANDARD")
        .select(col("p_partkey"))
      val li = Tables
        .lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("rev_c2"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("o_year"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      li.join(std, col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(marketNations, col("c_nationkey") === col("cn_key"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(suppNation, col("s_nationkey") === col("sn_key"))
        .groupBy(col("o_year"))
        .agg(
          sum(col("rev_c2")).as("total_c2"),
          sum(when(col("supp_nation") === "NATION_2", col("rev_c2")).otherwise(0L))
            .as("nation_c2"))
        .select(
          col("o_year"), col("total_c2"), col("nation_c2"),
          round(col("nation_c2").cast("double") / col("total_c2").cast("double"), 6)
            .as("mkt_share"))
        .orderBy(col("o_year"))
    }),
    // DATE + BOOLEAN output columns through the oracle gate (all other
    // queries return numerics/strings/timestamps/arrays): monthly revenue
    // calendar with a peak-month flag.
    "monthly_revenue" -> ((s, dir) => {
      val monthly = Tables
        .orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_c"))
      val mx = monthly.agg(max(col("revenue_c")).as("mx"))
      monthly
        .crossJoin(broadcast(mx))
        .select(
          col("month"),
          col("revenue_c"),
          (col("revenue_c") * 10L >= col("mx") * 9L).as("near_peak"))
        .orderBy(col("month"))
    }),
    // Per-order part baskets (collect_list under a keyed aggregation — the
    // market-basket shape). The nested array is built and sorted inside the
    // plan, then serialized to a canonical comma-joined string: sort_array
    // makes the value deterministic regardless of partitioning, and the
    // scalar string form is what the oracle gate can hash (its row
    // comparator cannot hash array-typed cells — nested outputs stay
    // covered at spec level in TpchQuerySpec).
    "order_basket" -> ((s, dir) =>
      Tables
        .lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(
          expr(
            "array_join(transform(sort_array(collect_list(l_partkey)), x -> CAST(x AS STRING)), ',')")
            .as("basket"),
          count(lit(1)).as("n_items"))
        .filter(col("n_items") >= 7)
        .orderBy(col("l_orderkey"))
        .limit(100)),
    // TPC-H Q7 volume shipping: bidirectional nation pair filtered at the
    // two broadcast nation dims; revenue per (supp_nation, cust_nation,
    // year) in exact cents².
    "q7_volume" -> ((s, dir) => {
      val n1 = broadcast(Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")))
      val li = Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
            col("l_shipdate") < expr("timestamp'1998-01-01 00:00:00'"))
        .select(
          col("l_orderkey"), col("l_suppkey"), year(col("l_shipdate")).as("l_year"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("rev_c2"))
      li.join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("sn_key"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(n2, col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("rev_c2")).as("revenue_c2"), count(lit(1)).as("n_lines"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),
    // Q12-flavored lateness analysis (this schema has no commit/receipt
    // dates): lines shipped > 90 days after their order date, per order
    // priority — timestamp interval arithmetic through the gate.
    "q12_late" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"))
      li
        .join(
          Tables.orders(s, dir)
            .filter(
              col("o_orderdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
                col("o_orderdate") < expr("timestamp'1997-01-01 00:00:00'"))
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
            .otherwise(0L)).as("n_late"))
        .withColumn(
          "late_frac",
          round(col("n_late").cast("double") / col("n_lines").cast("double"), 6))
        .orderBy(col("o_orderpriority"))
    }),
    // TPC-H Q13 customer distribution: LEFT join so zero-order customers
    // keep count 0, then the count-of-counts histogram.
    "q13_custdist" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).select(col("c_custkey"))
      cust
        .join(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"),
          "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    // TPC-H Q15 top supplier: quarterly revenue per supplier, argmax via a
    // 1-row broadcast max — ties kept (the spec's correlated = max form).
    "q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
            col("l_shipdate") < expr("timestamp'1996-04-01 00:00:00'"))
        .groupBy(col("l_suppkey"))
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("total_c2"))
      val mx = rev.agg(max(col("total_c2")).as("mx"))
      rev
        .crossJoin(broadcast(mx))
        .filter(col("total_c2") === col("mx"))
        .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_c2"))
        .orderBy(col("s_suppkey"))
    }),
    // TPC-H Q17 small-quantity revenue: the correlated per-part average
    // DECORRELATED into an aggregate+join; the 20%-of-average compare is
    // cross-multiplied into exact integers (5·qty·n < Σqty — no float
    // average), and the yearly figure is one double division at the end.
    "q17_small_qty" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          cents(col("l_extendedprice")).as("ext_c"))
      val brand = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey"))
      val perPart = li
        .join(brand, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_lines"))
        .select(col("l_partkey").as("ap_key"), col("sum_qty"), col("n_lines"))
      li.join(brand, col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("ap_key"))
        .filter(col("qty") * lit(5L) * col("n_lines") < col("sum_qty"))
        .agg(
          count(lit(1)).as("n_small"),
          sum(col("ext_c")).as("sum_cents"))
        .select(
          col("n_small"),
          col("sum_cents"),
          round(col("sum_cents").cast("double") / lit(7.0), 6).as("avg_yearly_c"))
    }),
    // TPC-H Q19 discounted revenue: disjunctive brand × size × quantity
    // predicate — one OR-of-ANDs filter over the part⋈lineitem join (the
    // shape Catalyst turns into a common-join + residual filter; the part
    // side prunes to the three brands at the scan).
    "q19_discounted" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("rev_c2"))
      val pt = Tables.part(s, dir)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      li.join(pt, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
              col("l_quantity").between(10, 30)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
              col("l_quantity").between(20, 40)))
        .agg(sum(col("rev_c2")).as("revenue_c2"), count(lit(1)).as("n_lines"))
    }),
    // Q22-flavored idle-capital report (no phone country codes in this
    // schema — nation stands in): customers from a nation subset with
    // above-positive-average balance and no RECENT orders (every customer
    // here has SOME order, so the anti-join is against the recent slice);
    // the average compare is cross-multiplied exact cents, the
    // no-recent-order check a left anti join with the date pushed to the
    // orders scan.
    "q22_idle" -> ((s, dir) => {
      val nations = Seq(1, 3, 5, 7, 9).map(lit(_))
      val cust = Tables.customer(s, dir)
        .filter(col("c_nationkey").isin(nations: _*))
        .select(col("c_custkey"), col("c_nationkey"), cents(col("c_acctbal")).as("bal_c"))
      val avgPos = cust
        .filter(col("bal_c") > 0L)
        .agg(sum(col("bal_c")).as("sum_c"), count(lit(1)).as("n_pos"))
      cust
        .crossJoin(broadcast(avgPos))
        .filter(col("bal_c") * col("n_pos") > col("sum_c"))
        .join(
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= expr("timestamp'2000-01-01 00:00:00'"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"), sum(col("bal_c")).as("total_bal_c"))
        .orderBy(col("c_nationkey"))
    }),
    // Market-basket co-occurrence (frequent itemsets, size 2): top-20
    // part pairs by shared-order count, with support and lift. The pair
    // self-join fans out per order by basket-size² — bounded by the max
    // lines-per-order (≤ 7 here), NOT corpus size, so the shuffle stays
    // linear in lineitem at 100 TB; part marginals and the order total
    // broadcast back onto the top-k (TakeOrderedAndProject, no global
    // sort).
    "basket_pairs" -> ((s, dir) => {
      // round 15 (guide §2.4, remove shuffles outright): per-order part
      // SETS via one ok-keyed collect_set aggregation replace the former
      // (ok, pk) distinct + ok-keyed self-join — that shape paid the
      // distinct's (ok, pk) exchange plus the join's ok re-exchange of
      // both sides before the pair aggregate; this one reaches the pair
      // aggregate after a single ok exchange. The pair enumeration is the
      // same basket-size²-bounded fan-out (TPC-H ≤ 7 lines/order; never
      // corpus-scale), now an array kernel over the sorted set instead of
      // a join: collect_set dedups exactly like distinct and sort_array
      // gives a_part < b_part, so pairs, marginals, support and lift are
      // value-identical (oracle-verified). partCnt, the order total and
      // the pair stream all read the one cached baskets relation, and the
      // total is a plain count (every order has ≥ 1 part) instead of a
      // countDistinct pass.
      val baskets = graft.operators.DedupOps.registerCache(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .groupBy(col("ok"))
          .agg(sort_array(collect_set(col("pk"))).as("parts"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val partCnt = baskets
        .select(explode(col("parts")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
      val total = baskets.agg(count(lit(1)).as("n_orders"))
      val ps = col("parts")
      // the pair fan-out is the query's one CPU-dense kernel (profiled
      // 0.76 s when AQE coalesced the cached aggregate to 4 partitions —
      // the round-14 cosine-tile lesson: byte-based coalescing can't see
      // per-row kernel cost); respread the basket rows across the cores
      // before it — identity on rows, no-op at scale
      graft.core.Spread
        .respread(baskets, Seq(col("ok")), "basketPairs.spread")
        .filter(size(ps) >= 2) // also guards sequence() against 1-part orders
        .select(
          explode(flatten(transform(
            sequence(lit(1), size(ps) - 1),
            i => transform(
              slice(ps, i + 1, size(ps) - i),
              x => struct(
                element_at(ps, i).as("a_part"),
                x.as("b_part")))))).as("p"))
        .select(col("p.a_part").as("a_part"), col("p.b_part").as("b_part"))
        .groupBy(col("a_part"), col("b_part"))
        .agg(count(lit(1)).as("n_co"))
        .orderBy(col("n_co").desc, col("a_part"), col("b_part"))
        .limit(20)
        .join(broadcast(partCnt.select(col("pk").as("a_part"), col("cnt").as("cnt_a"))),
          Seq("a_part"))
        .join(broadcast(partCnt.select(col("pk").as("b_part"), col("cnt").as("cnt_b"))),
          Seq("b_part"))
        .crossJoin(broadcast(total))
        .select(
          col("a_part"), col("b_part"), col("n_co"),
          round(col("n_co").cast("double") / col("n_orders").cast("double"), 6)
            .as("support"),
          round(
            col("n_co").cast("double") * col("n_orders").cast("double")
              / (col("cnt_a").cast("double") * col("cnt_b").cast("double")),
            6).as("lift"))
        .orderBy(col("n_co").desc, col("a_part"), col("b_part"))
    }),
    // RFM customer segmentation: recency (days since last order vs the
    // corpus max day), frequency (order count), monetary (total cents),
    // each quintiled with a custkey tiebreak for a total order; segment
    // code = r·100 + f·10 + m. Semantics are ntile(5) per dimension, but
    // the customer aggregate grows LINEARLY with the corpus — at 100 TB an
    // unpartitioned ntile is a single-task sort of ~10⁹ rows, three times.
    // Instead each dimension's quintile cut keys come from
    // RankOps.ntileCuts (bounded bin histogram → boundary-rank cut keys;
    // ntile-equivalence property-pinned in RankOpsSpec) and all three
    // bucket assignments are broadcast comparisons onto ONE pass over the
    // cached aggregate. DESC dimensions (frequency, monetary) negate the
    // column; o_custkey tiebreak keeps every key strictly unique.
    "rfm_segments" -> ((s, dir) => {
      // the customer aggregate feeds the cut-key passes AND the scoring —
      // persist via the session registry or orders scans twice
      val perCust = graft.operators.DedupOps.registerCache(
        Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(
            max(expr("cast(cast(o_orderdate as timestamp) as long) div 86400")).as("last_day"),
            count(lit(1)).as("freq"),
            sum(cents(col("o_totalprice"))).as("monetary_c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // recency_days = max_day − last_day is strictly decreasing in
      // last_day and never reaches the output, so the recency quintile
      // orders identically by (−last_day, custkey) — the max-day scalar
      // pass + broadcast the oracle's formulation implies is elided
      val scored = perCust.withColumn("recency_key", -col("last_day"))
      import graft.operators.RankOps
      // round 9: all three dims' quintile cut keys from ONE fused two-pass
      // histogram pipeline (driver-read stats row, one triple-dense-
      // histogram scan, one bounded boundary-bin rank pass whose ≤ 12-row
      // result is read driver-side) — no exploded 3n long form, and the
      // scoring plan below is a single scan → literal-comparison project →
      // aggregate: no join, broadcast, or window at all. DESC dims negate v
      val cuts = RankOps.multiNtileCuts(
        scored,
        Seq(1 -> col("recency_key"), 2 -> (-col("freq")), 3 -> (-col("monetary_c"))),
        "o_custkey",
        5)
      scored
        .withColumn("r", RankOps.ntileBucketExprLit(col("recency_key"), col("o_custkey"), cuts(1), 5))
        .withColumn("f", RankOps.ntileBucketExprLit(-col("freq"), col("o_custkey"), cuts(2), 5))
        .withColumn("m", RankOps.ntileBucketExprLit(-col("monetary_c"), col("o_custkey"), cuts(3), 5))
        .withColumn("segment", col("r") * lit(100) + col("f") * lit(10) + col("m"))
        .groupBy(col("segment"))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(col("monetary_c")).as("total_cents"))
        // ≤ 5³ segment rows at ANY scale: a single-partition local sort
        // replaces the global orderBy's range-sampling pass
        .repartition(1)
        .sortWithinPartitions(col("segment"))
    }),
    // Triangle census of the part co-occurrence graph (edges = part pairs
    // sharing ≥ 2 orders): exact triangle count + global clustering
    // coefficient via degree-ordered wedge enumeration — the O(√E)-
    // outdegree bound is what keeps the wedge self-join feasible on a
    // skewed 100 TB graph (see ClusterOps.triangleCount).
    "graph_triangles" -> ((s, dir) => {
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = items.as("a")
        .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("n_co"))
        .filter(col("n_co") >= 2)
        .select(col("u"), col("v"))
      graft.operators.ClusterOps.triangleCount(edges)
    }),
    // Cheapest-supplier-per-part (TPC-H Q2 shape, adapted — no partsupp
    // table, so observed minimum sale cents per (part, supplier) stands in
    // for ps_supplycost): the correlated `= (SELECT min ...)` resolves as a
    // window min PARTITIONed BY part over the aggregated (part, supplier)
    // relation — one pass, no self-join re-scan of the aggregate, and the
    // window key is the join key so no extra exchange.
    "q2_min_cost" -> ((s, dir) => {
      val small = Tables.part(s, dir).filter(col("p_size") <= 3).select(col("p_partkey"))
      // join BEFORE the aggregate: the p_size filter keeps ~6% of parts, so
      // filtering first shrinks the (part, supplier) aggregation input ~16×
      // (the oracle's WHERE-between-scan-and-agg placement)
      val cost = Tables
        .lineitem(s, dir)
        .join(small, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(cents(col("l_extendedprice"))).as("cost_c"))
      val w = Window.partitionBy(col("l_partkey"))
      cost
        .withColumn("min_c", min(col("cost_c")).over(w))
        .filter(col("cost_c") === col("min_c"))
        .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("l_partkey").as("p_partkey"), col("s_suppkey"), col("s_name"),
          col("n_name"), col("cost_c"))
        .orderBy(col("p_partkey"), col("s_suppkey"))
        .limit(100)
    }),
    // Product-line profit (TPC-H Q9 shape, adapted): the widest
    // star join in the suite — lineitem through part (name LIKE filter
    // pushed to the part scan), supplier, nation, orders — with profit as
    // revenue minus a 20%-of-retail unit-cost proxy (no ps_supplycost in
    // this schema), all in exact integer cents² per the money convention.
    "q9_profit" -> ((s, dir) => {
      val gearParts = Tables.part(s, dir)
        .filter(col("p_name").like("%gear%"))
        .select(col("p_partkey"), cents(col("p_retailprice")).as("retail_c"))
      val li = Tables.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"),
          cents(col("l_extendedprice")).as("ext_c"),
          cents(col("l_discount")).as("disc_c"))
      li.join(gearParts, col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, dir)
            .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), col("o_year"))
        .agg(sum(
          col("ext_c") * (lit(100L) - col("disc_c")) -
            col("qty") * col("retail_c") * lit(20L)).as("profit_c2"))
        .orderBy(col("n_name"), col("o_year"))
    }),
    // Important-part value report (TPC-H Q11 shape): the scalar-subquery
    // HAVING — per-part sale value restricted to a nation group, kept only
    // when above twice the mean part value. The global (total, n_parts)
    // aggregate is a 1-row broadcast; the compare is cross-multiplied
    // exact integers (value·n > 2·total), so the threshold is
    // scale-invariant — the row count tracks the shape of the value
    // distribution, not the corpus size.
    "q11_top_value" -> ((s, dir) => {
      val v = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir)
            .filter(col("s_nationkey").isin(1, 2, 3))
            .select(col("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("value_c"))
      val t = v.agg(sum(col("value_c")).as("total_c"), count(lit(1)).as("n_parts"))
      v.crossJoin(broadcast(t))
        .filter(col("value_c") * col("n_parts") > lit(2L) * col("total_c"))
        .select(col("l_partkey").as("p_partkey"), col("value_c"))
        .orderBy(col("value_c").desc, col("p_partkey"))
        .limit(50)
    }),
    // Supplier diversity per part profile (TPC-H Q16 shape): COUNT
    // DISTINCT suppliers per (brand, type, size) with a NOT IN exclusion
    // — the subquery is non-null-producing (s_suppkey is a key), so the
    // anti-join is exactly NOT IN without the tri-valued-NULL trap; the
    // anti side (suppliers in deficit) broadcasts.
    "q16_supplier_cnt" -> ((s, dir) => {
      val excluded = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val pt = Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"))
        .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
        .limit(50)
    }),
    // High-volume promo shippers (TPC-H Q20 shape): the nested
    // IN-chain — part filter feeds a grouped HAVING on 1996 shipped
    // quantity, whose distinct supplier set semi-joins supplier, then the
    // nation filter. Each IN is a left_semi hash join (one probe per row,
    // no fan-out), and the date range prunes the lineitem scan.
    "q20_excess" -> ((s, dir) => {
      val promo = Tables.part(s, dir)
        .filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val qualifying = Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
            col("l_shipdate") < expr("timestamp'1997-01-01 00:00:00'"))
        .join(promo, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 50L)
        .select(col("l_suppkey"))
      Tables.supplier(s, dir)
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, dir)
            .filter(col("n_nationkey") <= 7)
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy(col("s_suppkey"))
    }),
    // Suppliers who kept finished orders waiting (TPC-H Q21 shape):
    // EXISTS (another supplier in the order) AND NOT EXISTS (another LATE
    // supplier) DECORRELATED into two per-order aggregates — distinct
    // supplier count > 1 and late-supplier count = 1 — joined back to the
    // distinct late (order, supplier) pairs. The pair relation feeds two
    // consumers (itself and its per-order count), so it persists through
    // the session cache registry; "late" = shipped > 60 days after the
    // order date (this schema has no commit/receipt dates).
    "q21_waiting" -> ((s, dir) => {
      val ordF = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      // ONE lineitem pass at (order, supplier) grain feeds BOTH
      // decorrelated aggregates (round 14, guide §2.4): the grain row
      // carries max(l_shipdate), so "pair ever late" = one comparison
      // against the order date, and the per-order distinct-supplier
      // count is a plain count(*) over grain rows — the previous shape
      // paid a second full lineitem scan plus a countDistinct Expand.
      val pairsGrain = graft.operators.DedupOps.registerCache(
        Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(max(col("l_shipdate")).as("max_ship"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val latePairs = graft.operators.DedupOps.registerCache(
        pairsGrain
          .join(ordF, col("l_orderkey") === col("o_orderkey") &&
            col("max_ship") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val multiSupp = pairsGrain
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"))
        .filter(col("n_supp") > 1)
        .select(col("l_orderkey"))
      val loneLate = latePairs
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_late"))
        .filter(col("n_late") === 1)
        .select(col("l_orderkey"))
      latePairs
        .join(multiSupp, Seq("l_orderkey"), "left_semi")
        .join(loneLate, Seq("l_orderkey"), "left_semi")
        .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),
    // Correlated scalar subqueries through the SQL surface: orders above
    // their own customer's average order value, per market segment.
    // Catalyst DECORRELATES both subqueries into aggregate + join (the
    // rewrite a naive executor would run as O(n) point lookups); the
    // comparison is cross-multiplied into exact integers (cents·count vs
    // sum-of-cents) so no float average is ever materialized.
    "above_avg_orders" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      s.sql(
        """WITH o AS (
          |  SELECT o_orderkey, o_custkey,
          |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          |  FROM graft_orders
          |), flagged AS (
          |  SELECT c.c_mktsegment AS segment,
          |         CASE WHEN o.cents *
          |                (SELECT count(*) FROM o o2 WHERE o2.o_custkey = o.o_custkey)
          |              > (SELECT sum(cents) FROM o o3 WHERE o3.o_custkey = o.o_custkey)
          |              THEN 1L ELSE 0L END AS above
          |  FROM o JOIN graft_customer c ON o.o_custkey = c.c_custkey
          |)
          |SELECT segment, count(*) AS n_orders, sum(above) AS n_above,
          |       round(CAST(sum(above) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          |         AS above_frac
          |FROM flagged GROUP BY segment ORDER BY segment""".stripMargin)
    }),
    // Referential-integrity audit: orphan counts for every FK edge of the
    // star schema in one union of left joins (child key probed against
    // the parent PK; parent side is distinct by construction). The data-
    // quality gate an ingest pipeline runs before publishing a snapshot.
    // Each edge is a single hash join + conditional count — broadcast for
    // dimension parents, shuffle for the fact-to-fact edge; no row data
    // beyond the keys moves.
    "fk_orphans" -> ((s, dir) => {
      def edge(name: String, child: DataFrame, key: String,
               parent: DataFrame, pk: String): DataFrame =
        child.select(col(key).as("ck"))
          .join(parent.select(col(pk).as("pk")), col("ck") === col("pk"), "left")
          .agg(
            lit(name).as("fk"),
            count(lit(1)).as("n_child"),
            sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(col("fk"), col("n_child"), col("n_orphans"))
      val li = Tables.lineitem(s, dir)
      edge("lineitem.l_orderkey->orders", li, "l_orderkey",
          Tables.orders(s, dir), "o_orderkey")
        .unionAll(edge("lineitem.l_partkey->part", li, "l_partkey",
          Tables.part(s, dir), "p_partkey"))
        .unionAll(edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, dir), "s_suppkey"))
        .unionAll(edge("orders.o_custkey->customer", Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"))
        .orderBy(col("fk"))
    }),
    // Join-key skew diagnostic: the top-10 heaviest l_orderkey values
    // with their share of the table and their multiple of the mean key
    // frequency (skew_x) — the pre-join profile that decides whether a
    // shuffle join needs salting or AQE skew handling. One keyed count
    // (map-side combinable), a broadcast 1-row stats join, and a global
    // top-k that Catalyst runs as TakeOrderedAndProject — no full sort.
    "skew_keys" -> ((s, dir) => {
      // the keyed count feeds BOTH the top-k and the 1-row stats — cache
      // it or the fact scan + count shuffle run twice (plan-audited)
      val cnts = graft.operators.DedupOps.registerCache(
        Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey").as("key"))
          .agg(count(lit(1)).as("cnt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val stats = cnts.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("total"))
      cnts.crossJoin(stats)
        .select(
          col("key"), col("cnt"),
          round(col("cnt").cast("double") / col("total").cast("double"), 6).as("share"),
          round(col("cnt").cast("double") * col("n_keys").cast("double")
            / col("total").cast("double"), 6).as("skew_x"))
        .orderBy(col("cnt").desc, col("key"))
        .limit(10)
    }))

  val oracle: Map[String, String] = Map(
    "return_rates_eb" ->
      """WITH j AS (
        |  SELECT p.p_brand AS grp,
        |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |), g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(r) AS BIGINT) AS x
        |  FROM j GROUP BY 1
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(n) AS BIGINT) AS tn, CAST(sum(x) AS BIGINT) AS tx,
        |         CAST(sum(CAST(round(1e9 * (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)))
        |                       AS BIGINT)) AS BIGINT) AS sr_n,
        |         CAST(sum(CAST(round(1e9 * (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |                                    * (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))))
        |                       AS BIGINT)) AS BIGINT) AS srr_n,
        |         CAST(sum(CAST(round(1e12 / CAST(n AS DOUBLE)) AS BIGINT)) AS BIGINT)
        |           AS sinv_p
        |  FROM g
        |), t AS (
        |  SELECT CAST(tx AS DOUBLE) / CAST(tn AS DOUBLE) AS m,
        |         CASE WHEN k > 1 THEN
        |           (CAST(srr_n AS DOUBLE) / 1e9
        |            - CAST(sr_n AS DOUBLE) / 1e9
        |              * (CAST(sr_n AS DOUBLE) / 1e9 / CAST(k AS DOUBLE)))
        |           / (CAST(k AS DOUBLE) - 1.0) END AS s2,
        |         CAST(tx AS DOUBLE) / CAST(tn AS DOUBLE)
        |           * (1.0 - CAST(tx AS DOUBLE) / CAST(tn AS DOUBLE))
        |           * (CAST(sinv_p AS DOUBLE) / 1e12 / CAST(k AS DOUBLE)) AS binom
        |  FROM s
        |), pr AS (
        |  SELECT m,
        |         CASE WHEN s2 IS NOT NULL AND s2 > binom
        |              THEN m * (1.0 - m) / (s2 - binom) - 1.0 END AS prior_m
        |  FROM t
        |)
        |SELECT g.grp, g.n, g.x,
        |       round(CAST(g.x AS DOUBLE) / CAST(g.n AS DOUBLE), 6) AS raw_rate,
        |       round(CASE
        |         WHEN pr.prior_m IS NOT NULL AND pr.prior_m > 0.0 THEN
        |           (CAST(g.x AS DOUBLE) + pr.prior_m * pr.m)
        |             / (CAST(g.n AS DOUBLE) + pr.prior_m)
        |         WHEN pr.prior_m IS NOT NULL THEN CAST(g.x AS DOUBLE) / CAST(g.n AS DOUBLE)
        |         ELSE pr.m END, 6) AS shrunk_rate,
        |       round(pr.m, 6) AS pooled_rate,
        |       round(pr.prior_m, 6) AS prior_m
        |FROM g CROSS JOIN pr ORDER BY grp""".stripMargin,
    "return_rates" ->
      """WITH j AS (
        |  SELECT p_brand, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |), g AS (
        |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n, CAST(sum(r) AS BIGINT) AS k
        |  FROM j GROUP BY 1
        |)
        |SELECT p_brand, n, k,
        |       round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS return_rate,
        |       round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |              + 1.959964 * 1.959964 / (2.0 * CAST(n AS DOUBLE)))
        |             / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE))
        |             - 1.959964 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |                 * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |                 / CAST(n AS DOUBLE)
        |                 + 1.959964 * 1.959964
        |                   / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |               / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE)), 6) AS ci_lo,
        |       round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |              + 1.959964 * 1.959964 / (2.0 * CAST(n AS DOUBLE)))
        |             / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE))
        |             + 1.959964 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |                 * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |                 / CAST(n AS DOUBLE)
        |                 + 1.959964 * 1.959964
        |                   / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |               / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE)), 6) AS ci_hi
        |FROM g ORDER BY p_brand""".stripMargin,
    "q_elasticity" ->
      """WITH b AS (
        |  SELECT p_brand AS grp,
        |         CAST(trunc(l_discount * 100.0) AS BIGINT) AS x,
        |         CAST(trunc(l_quantity * 100.0) AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_discount IS NOT NULL AND NOT isnan(l_discount)
        |    AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
        |), g AS (
        |  SELECT grp, CAST(count(*) AS HUGEINT) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM b GROUP BY grp
        |)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |       round((CAST(sy AS DOUBLE)
        |              - CAST(n * sxy - sx * sy AS DOUBLE)
        |                / CAST(n * sxx - sx * sx AS DOUBLE)
        |                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept_c,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
        |             / (CAST(n * sxx - sx * sx AS DOUBLE)
        |                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
        |FROM g ORDER BY grp""".stripMargin,
    "price_dispersion" ->
      """WITH x AS (
        |  SELECT l_partkey,
        |         CAST(trunc(l_extendedprice * 100.0 / l_quantity) AS BIGINT) AS x
        |  FROM lineitem WHERE l_quantity > 0
        |), g AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM x GROUP BY 1 HAVING count(*) >= 5
        |), c AS (
        |  SELECT l_partkey, n,
        |         round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
        |           AS mean_unit_price,
        |         round(sqrt(CAST(CAST(n AS HUGEINT) * sxx
        |                         - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)
        |                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        |               / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cv
        |  FROM g
        |)
        |SELECT l_partkey, n, mean_unit_price, cv
        |FROM c ORDER BY cv DESC, l_partkey LIMIT 20""".stripMargin,
    "supply_redundancy" ->
      """WITH pp AS (
        |  SELECT l_partkey, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
        |  FROM lineitem GROUP BY 1
        |), g AS (
        |  SELECT n_suppliers, CAST(count(*) AS BIGINT) AS n_parts FROM pp GROUP BY 1
        |)
        |SELECT n_suppliers, n_parts,
        |       round(CAST(n_parts AS DOUBLE)
        |             / CAST(sum(n_parts) OVER () AS DOUBLE), 6) AS part_share
        |FROM g ORDER BY n_suppliers""".stripMargin,
    "region_hhi" ->
      """WITH l AS (
        |  SELECT l_suppkey, CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_c2
        |  FROM lineitem
        |), geo AS (
        |  SELECT s_suppkey, r_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |), rs AS (
        |  SELECT r_name, s_suppkey, CAST(sum(rev_c2) AS BIGINT) AS rs
        |  FROM l JOIN geo ON l.l_suppkey = geo.s_suppkey GROUP BY 1, 2
        |), g AS (
        |  SELECT r_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        |         sum(CAST(rs AS HUGEINT)) AS tot,
        |         sum(CAST(rs AS HUGEINT) * CAST(rs AS HUGEINT)) AS sq
        |  FROM rs GROUP BY 1
        |)
        |SELECT r_name, n_suppliers,
        |       round(CAST(sq AS DOUBLE)
        |             / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS hhi,
        |       round(CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)
        |             / CAST(sq AS DOUBLE), 6) AS effective_suppliers
        |FROM g ORDER BY r_name""".stripMargin,
    "rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |         max(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |         CAST(count(*) AS BIGINT) AS freq,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS monetary_c
        |  FROM orders GROUP BY 1
        |), sc AS (
        |  SELECT *, (SELECT max(last_day) FROM pc) - last_day AS recency_days
        |  FROM pc
        |), t AS (
        |  SELECT o_custkey, monetary_c,
        |         ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r,
        |         ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f,
        |         ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS m
        |  FROM sc
        |)
        |SELECT (r * 100 + f * 10 + m) AS segment,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(monetary_c) AS BIGINT) AS total_cents
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "graph_triangles" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e AS (
        |  SELECT a.pk AS u, b.pk AS v
        |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), d AS (
        |  SELECT n, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1
        |), o AS (
        |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
        |              THEN e.u ELSE e.v END AS src,
        |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
        |              THEN e.v ELSE e.u END AS dst
        |  FROM e JOIN d du ON e.u = du.n JOIN d dv ON e.v = dv.n
        |), w AS (
        |  SELECT e1.dst AS a, e2.dst AS b
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM w WHERE EXISTS (SELECT 1 FROM e
        |                       WHERE e.u = least(w.a, w.b)
        |                         AND e.v = greatest(w.a, w.b))
        |)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_nodes,
        |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |       (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM d) AS n_wedges,
        |       t.n_triangles,
        |       round(3.0 * CAST(t.n_triangles AS DOUBLE)
        |             / CAST((SELECT sum(deg * (deg - 1) // 2) FROM d) AS DOUBLE), 6)
        |         AS clustering
        |FROM t""".stripMargin,
    // written in the correlated form the engine's window-min decorrelates
    "q2_min_cost" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey,
        |         CAST(min(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT)
        |           AS cost_c
        |  FROM lineitem GROUP BY 1,2
        |)
        |SELECT c.l_partkey AS p_partkey, s.s_suppkey, s.s_name, n.n_name, c.cost_c
        |FROM cost c
        |JOIN part p ON c.l_partkey = p.p_partkey AND p.p_size <= 3
        |JOIN supplier s ON c.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE c.cost_c = (SELECT min(c2.cost_c) FROM cost c2
        |                  WHERE c2.l_partkey = c.l_partkey)
        |ORDER BY p_partkey, s_suppkey LIMIT 100""".stripMargin,
    "q9_profit" ->
      """SELECT n.n_name, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |       CAST(sum(CAST(round(l.l_extendedprice*100,0) AS BIGINT)
        |                  * (100 - CAST(round(l.l_discount*100,0) AS BIGINT))
        |                - CAST(trunc(l.l_quantity) AS BIGINT)
        |                  * CAST(round(p.p_retailprice*100,0) AS BIGINT) * 20)
        |            AS BIGINT) AS profit_c2
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%gear%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q11_top_value" ->
      """WITH v AS (
        |  SELECT l.l_partkey,
        |         CAST(sum(CAST(round(l.l_extendedprice*100,0) AS BIGINT)) AS BIGINT)
        |           AS value_c
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE s.s_nationkey IN (1,2,3)
        |  GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(value_c) AS BIGINT) AS total_c,
        |         CAST(count(*) AS BIGINT) AS n_parts
        |  FROM v
        |)
        |SELECT v.l_partkey AS p_partkey, v.value_c
        |FROM v, t WHERE v.value_c * t.n_parts > 2 * t.total_c
        |ORDER BY v.value_c DESC, p_partkey LIMIT 50""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
        |       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#1'
        |  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1,2,3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 50""".stripMargin,
    "q20_excess" ->
      """SELECT s.s_suppkey, s.s_name, n.n_name
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE n.n_nationkey <= 7
        |  AND s.s_suppkey IN (
        |    SELECT l.l_suppkey
        |    FROM lineitem l
        |    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
        |    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    GROUP BY l.l_suppkey, l.l_partkey
        |    HAVING CAST(sum(CAST(trunc(l.l_quantity) AS BIGINT)) AS BIGINT) > 50)
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting" ->
      """WITH lp AS (
        |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |), ns AS (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY 1 HAVING count(DISTINCT l_suppkey) > 1
        |), nl AS (
        |  SELECT l_orderkey FROM lp GROUP BY 1 HAVING count(*) = 1
        |)
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lp
        |JOIN ns ON lp.l_orderkey = ns.l_orderkey
        |JOIN nl ON lp.l_orderkey = nl.l_orderkey
        |JOIN supplier s ON lp.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "basket_pairs" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), pc AS (
        |  SELECT pk, CAST(count(*) AS BIGINT) AS cnt FROM it GROUP BY 1
        |), t AS (
        |  SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM it
        |), pr AS (
        |  SELECT a.pk AS a_part, b.pk AS b_part, CAST(count(*) AS BIGINT) AS n_co
        |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2
        |), top AS (
        |  SELECT * FROM pr ORDER BY n_co DESC, a_part, b_part LIMIT 20
        |)
        |SELECT a_part, b_part, n_co,
        |       round(CAST(n_co AS DOUBLE) / CAST((SELECT n_orders FROM t) AS DOUBLE), 6)
        |         AS support,
        |       round(CAST(n_co AS DOUBLE) * CAST((SELECT n_orders FROM t) AS DOUBLE)
        |             / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)), 6) AS lift
        |FROM top
        |JOIN pc ca ON top.a_part = ca.pk
        |JOIN pc cb ON top.b_part = cb.pk
        |ORDER BY n_co DESC, a_part, b_part""".stripMargin,
    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l.l_shipdate) AS INT) AS l_year,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
        |                * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
        |            AS BIGINT) AS revenue_c2,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q12_late" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |       round(CAST(sum(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        |                          THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS late_frac
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1
        |)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |                  * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
        |              AS BIGINT) AS total_c2
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1
        |)
        |SELECT s.s_suppkey, s.s_name, r.total_c2
        |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_c2 = (SELECT max(total_c2) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin,
    "q17_small_qty" ->
      """WITH li AS (
        |  SELECT l.l_partkey, CAST(trunc(l.l_quantity) AS BIGINT) AS qty,
        |         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS ext_c
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#1'
        |), pp AS (
        |  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
        |         CAST(count(*) AS BIGINT) AS n_lines
        |  FROM li GROUP BY 1
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_small,
        |       CAST(sum(li.ext_c) AS BIGINT) AS sum_cents,
        |       round(CAST(sum(li.ext_c) AS DOUBLE) / 7.0, 6) AS avg_yearly_c
        |FROM li JOIN pp ON li.l_partkey = pp.l_partkey
        |WHERE li.qty * 5 * pp.n_lines < pp.sum_qty""".stripMargin,
    "q19_discounted" ->
      """SELECT CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
        |                * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
        |            AS BIGINT) AS revenue_c2,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
        |       AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 20
        |       AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 30
        |       AND l.l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "q22_idle" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey,
        |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_c
        |  FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9)
        |), ap AS (
        |  SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c,
        |         CAST(count(*) AS BIGINT) AS n_pos
        |  FROM cust WHERE bal_c > 0
        |)
        |SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |       CAST(sum(c.bal_c) AS BIGINT) AS total_bal_c
        |FROM cust c, ap
        |WHERE c.bal_c * ap.n_pos > ap.sum_c
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "customer_balance_pct" ->
      """WITH b AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_c
        |  FROM customer
        |), r AS (
        |  SELECT c_custkey, c_mktsegment, bal_c,
        |         round(percent_rank() OVER w, 6) AS pct_rank,
        |         ntile(4) OVER w AS quartile
        |  FROM b
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY bal_c, c_custkey)
        |)
        |SELECT c_mktsegment, c_custkey, bal_c, pct_rank
        |FROM r WHERE quartile = 4
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "q_no_orders" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_inactive
        |FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "daily_revenue_ma" ->
      """WITH d AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS revenue_c
        |  FROM orders GROUP BY 1
        |), n AS (
        |  SELECT day, revenue_c, epoch_us(day) // 86400000000 AS day_num FROM d
        |), w AS (
        |  SELECT day, revenue_c,
        |         CAST(count(*) OVER win AS BIGINT) AS n7,
        |         CAST(sum(revenue_c) OVER win AS BIGINT) AS s7
        |  FROM n
        |  WINDOW win AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |)
        |SELECT day, revenue_c, n7,
        |       round(CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE), 6) AS ma7
        |FROM w ORDER BY day""".stripMargin,
    "q10_returns" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
        |                * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
        |            AS BIGINT) AS revenue_c2
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_c2 DESC, c.c_custkey
        |LIMIT 20""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(trunc(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  CAST(sum(ext_c) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(ext_c * (100 - disc_c)) AS BIGINT) AS sum_disc_c2,
        |  CAST(sum(ext_c * (100 - disc_c) * (100 + tax_c)) AS BIGINT) AS sum_charge_c3,
        |  CAST(count(*) AS BIGINT) AS count_order,
        |  round(sum(l_quantity) / CAST(count(*) AS DOUBLE), 6) AS avg_qty
        |FROM (SELECT l_returnflag, l_linestatus, l_quantity,
        |             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS ext_c,
        |             CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_c,
        |             CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_c
        |      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q6_forecast" ->
      """SELECT CAST(sum(ext_c * disc_c) AS BIGINT) AS revenue_c2,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS ext_c,
        |             CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_c
        |      FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |        AND l_quantity < 24)
        |WHERE disc_c >= 5 AND disc_c <= 7""".stripMargin,
    "q1_rollup" ->
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
        |       coalesce(l_linestatus, '(all)') AS l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(trunc(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |       CAST(sum(ext_c) AS BIGINT) AS sum_base_cents
        |FROM (SELECT l_returnflag, l_linestatus, l_quantity,
        |             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS ext_c
        |      FROM lineitem)
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,
    "q14_promo" ->
      """SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN l.rev_c2 ELSE 0 END) AS BIGINT)
        |         AS promo_c2,
        |       CAST(sum(l.rev_c2) AS BIGINT) AS total_c2,
        |       round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN l.rev_c2 ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(l.rev_c2) AS DOUBLE), 6) AS promo_pct
        |FROM (SELECT l_partkey,
        |             CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |               * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_c2
        |      FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00') l
        |JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin,
    "q18_big_orders" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, b.total_qty, o.total_cents
        |FROM (SELECT l_orderkey, CAST(trunc(sum(l_quantity)) AS BIGINT) AS total_qty
        |      FROM lineitem GROUP BY 1
        |      HAVING CAST(trunc(sum(l_quantity)) AS BIGINT) > 300) b
        |JOIN (SELECT o_orderkey, o_custkey, o_orderdate,
        |             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents
        |      FROM orders) o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY b.total_qty DESC, o.o_orderkey
        |LIMIT 20""".stripMargin,
    "set_ops" ->
      """SELECT
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |                         EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')) AS n_view_only,
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |                         INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')) AS n_both,
        |  (SELECT count(*) FROM (SELECT user_id FROM events WHERE event_type = 'view'
        |                         UNION SELECT user_id FROM events WHERE event_type = 'purchase')) AS n_any""".stripMargin,
    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate, CAST(sum(rev_c2) AS BIGINT) AS revenue_c2
        |FROM (SELECT l_orderkey,
        |             CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |               * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_c2
        |      FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00') l
        |JOIN (SELECT o_orderkey, o_custkey, o_orderdate FROM orders
        |      WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00') o
        |  ON l.l_orderkey = o.o_orderkey
        |JOIN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') c
        |  ON o.o_custkey = c.c_custkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_c2 DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q5_region_volume" ->
      """SELECT n.n_name, CAST(sum(l.rev_c2) AS BIGINT) AS revenue_c2
        |FROM (SELECT l_orderkey, l_suppkey,
        |             CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |               * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_c2
        |      FROM lineitem) l
        |JOIN (SELECT o_orderkey, o_custkey FROM orders
        |      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00') o
        |  ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |GROUP BY n.n_name
        |ORDER BY revenue_c2 DESC, n_name""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
        |                * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
        |            AS BIGINT) AS total_c2,
        |       CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
        |                     THEN CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
        |                          * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))
        |                     ELSE 0 END) AS BIGINT) AS nation_c2,
        |       round(CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
        |                          THEN CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
        |                               * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))
        |                          ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
        |                        * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
        |                    AS DOUBLE), 6) AS mkt_share
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "monthly_revenue" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS revenue_c
        |  FROM orders GROUP BY 1
        |), mx AS (
        |  SELECT max(revenue_c) AS mx FROM m
        |)
        |SELECT month, revenue_c,
        |       revenue_c * 10 >= (SELECT mx FROM mx) * 9 AS near_peak
        |FROM m ORDER BY month""".stripMargin,
    "order_basket" ->
      """SELECT l_orderkey,
        |       array_to_string(list_sort(list(l_partkey)), ',') AS basket,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |GROUP BY l_orderkey HAVING count(*) >= 7
        |ORDER BY l_orderkey LIMIT 100""".stripMargin,
    // the oracle is written in the DECORRELATED form Catalyst rewrites the
    // engine's correlated subqueries into — same relation, documents the rewrite
    "above_avg_orders" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders
        |), a AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_c,
        |         CAST(sum(cents) AS BIGINT) AS sum_c
        |  FROM o GROUP BY 1
        |), flagged AS (
        |  SELECT c.c_mktsegment AS segment,
        |         CASE WHEN o.cents * a.n_c > a.sum_c THEN 1 ELSE 0 END AS above
        |  FROM o JOIN a USING (o_custkey)
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(above) AS BIGINT) AS n_above,
        |       round(CAST(sum(above) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |         AS above_frac
        |FROM flagged GROUP BY 1 ORDER BY 1""".stripMargin,
    "fk_orphans" ->
      """SELECT 'lineitem.l_orderkey->orders' AS fk,
        |       CAST(count(*) AS BIGINT) AS n_child,
        |       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_orphans
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY fk""".stripMargin,
    "skew_keys" ->
      """WITH c AS (
        |  SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1
        |), st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total
        |  FROM c
        |)
        |SELECT key, cnt,
        |       round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        |       round(CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |             / CAST(total AS DOUBLE), 6) AS skew_x
        |FROM c CROSS JOIN st
        |ORDER BY cnt DESC, key LIMIT 10""".stripMargin)
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TopK

/** TPC-H-shaped relational queries over the star schema — the operators
  * a 100 TB training-data pipeline leans on: filtered scans with
  * predicate pushdown, broadcast dimension joins, hash aggregations
  * with map-side partials, top-k, and ranking windows.
  *
  * Determinism rules: every money aggregate sums DECIMAL(18,4) (exact,
  * associative — immune to Spark-vs-DuckDB partial-agg ordering, which
  * would flake a raw double sum at the 1e-7 level), quantities are
  * integer-valued doubles (exact in IEEE), and every output has a total
  * ORDER BY with key tiebreakers.
  */
object RelationalQueries extends QueryRegistry {
  import Tables._

  private val Dec = "decimal(18,4)"
  /** revenue = extprice * (1 - discount), decimal-first: the stored
    * doubles are 2-decimal-valued, so casting the INPUTS to decimal is
    * unambiguous, and the decimal multiply is then exact (scale 2+2=4,
    * no rounding step) — whereas rounding the double PRODUCT differs
    * between engines on half-way cases (Spark rounds the shortest
    * string repr, DuckDB the binary value). */
  private def revenue =
    col("l_extendedprice").cast("decimal(14,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
  /** charge = revenue * (1 + tax), exact decimal scale 6. */
  private def charge =
    revenue * (lit(1).cast("decimal(4,2)") + col("l_tax").cast("decimal(4,2)"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: pricing summary with shipdate pushdown
    "q1_pricing_summary" -> ((s, dir) =>
      lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(col("l_extendedprice").cast(Dec)).cast("double").as("sum_base_price"),
          sum(revenue).cast("double").as("sum_disc_price"),
          sum(charge).cast("double").as("sum_charge"),
          round(sum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // TPC-H Q3 shape: top-10 revenue orders for one segment
    // (broadcast the filtered customer dim; shuffle only on orderkey)
    "q3_top_revenue" -> ((s, dir) => {
      val cust = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      orders(s, dir)
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5 shape: revenue rollup by supplier region/nation
    // (three broadcast dims chained onto the lineitem scan)
    "q5_region_volume" -> ((s, dir) =>
      lineitem(s, dir)
        .join(broadcast(supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))),

    // TPC-H Q16 shape (parts/supplier relationship census), adapted:
    // the part↔supplier relation comes from DISTINCT lineitem pairs
    // (no partsupp table), the excluded-supplier list is the
    // negative-balance set (the "complaints" NOT IN of the original).
    // Shape: one distinct over (part, supp) keys, an anti-join against
    // a broadcast-bounded exclusion list, a broadcast part dim, and a
    // distinct-count rollup — supplier diversity per product segment.
    "q16_supplier_census" -> ((s, dir) => {
      val rel = lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val excluded = supplier(s, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      rel
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(part(s, dir).filter(col("p_brand") =!= "Brand#1")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
        .limit(30)
    }),

    // TPC-H Q9 shape (product-type profit by nation and year), adapted
    // to this corpus: no partsupp table, so unit cost is proxied by
    // p_retailprice — profit = revenue − retailprice·quantity, every
    // term decimal-exact (the money doctrine above). Plan shape is the
    // classic Q9: three broadcast dims (name-filtered part, supplier,
    // nation) against the lineitem scan, ONE orderkey-keyed shuffle
    // join to orders for the year, two-phase aggregation.
    "q9_product_profit" -> ((s, dir) => {
      val amount = revenue -
        col("p_retailprice").cast("decimal(14,2)") *
          col("l_quantity").cast("decimal(14,2)")
      lineitem(s, dir)
        .join(broadcast(part(s, dir).filter(col("p_name").contains("widget"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(amount).cast("double").as("profit"),
          count(lit(1)).as("n_items"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // part dim join + top-10 types by shipped quantity
    "top_part_types" -> ((s, dir) =>
      lineitem(s, dir)
        .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"),
          count(lit(1)).as("n_items"))
        .orderBy(col("total_qty").desc, col("p_type").asc)
        .limit(10)),

    // TPC-H Q4 proper: orders WITH AT LEAST ONE late-shipped lineitem
    // (EXISTS = left-semi join; at scale the semi join shuffles only
    // orderkeys, never the payload)
    "q4_priority_exists" -> ((s, dir) => {
      val late = lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"))
      orders(s, dir)
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q4 shape: order priority histogram in a date window
    "order_priority_count" -> ((s, dir) =>
      orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))),

    // string predicates: LIKE pushdown + per-brand rollup of widget parts
    "widget_parts" -> ((s, dir) =>
      part(s, dir)
        .filter(col("p_name").like("%widget%") && col("p_size") >= 20)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          max(col("p_retailprice").cast(Dec)).cast("double").as("max_price"))
        .orderBy(col("p_brand"))),

    // ranking window: top-3 customers by account balance per segment
    "segment_top_customers" -> ((s, dir) => {
      TopK.per(customer(s, dir), Seq(col("c_mktsegment")),
        Seq(col("c_acctbal").desc, col("c_custkey").asc), 3, "rnk")
        .select(col("c_mktsegment"), col("rnk"),
          col("c_custkey"),
          col("c_acctbal").cast(Dec).cast("double").as("acctbal"))
        .orderBy(col("c_mktsegment"), col("rnk"))
    }),

    // ntile decile window: customers bucketed into 10 balance deciles
    // (total order via the custkey tiebreak keeps the bucketing
    // engine-identical), then per-decile rollup
    "customer_balance_deciles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      customer(s, dir)
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast(Dec)).cast("double").as("total_balance"))
        .orderBy(col("decile"))
        .select(col("decile").cast("long").as("decile"),
          col("n_customers"), col("total_balance"))
    }),

    // two-phase salted aggregation on a 6-value (maximally skewed) key:
    // decimal partials make the salted merge exactly equal the direct
    // groupBy, so the skew-safe plan shares the plain oracle
    "salted_revenue" -> ((s, dir) =>
      graft.operators.SkewTools.saltedAgg(
        lineitem(s, dir).select(col("l_returnflag"), col("l_linestatus"),
          revenue.as("rev")),
        keys = Seq(col("l_returnflag"), col("l_linestatus")),
        saltBuckets = 16,
        partials = Seq(sum(col("rev")).as("s"), count(lit(1)).as("c")),
        merge = Seq(sum(col("s")).cast("double").as("revenue"),
          sum(col("c")).cast("long").as("n_items")))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // ROLLUP hierarchy totals (subtotal + grand-total rows); NULLS FIRST
    // ordering pinned explicitly since engines default differently
    "rollup_revenue" -> ((s, dir) =>
      // same Expand-fanout reasoning as cube_revenue
      lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice"), col("l_discount"))
        .repartition(s.sparkContext.defaultParallelism)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // TPC-H Q7 shape: bilateral trade volume — the same nation dim
    // joined in TWO roles (supplier side and customer side), so the
    // alias discipline matters; revenue by nation pair and ship year
    "q7_nation_volume" -> ((s, dir) => {
      // nation names that EXIST in the testdata (NATION_0..24) — the
      // classic TPC-H FRANCE/GERMANY literals select zero rows here
      // and would exercise the dual-role join vacuously
      val pair = Seq("NATION_3", "NATION_7")
      // pre-filter each nation ROLE to the two names before joining:
      // the dims then act as semi-join reducers on supplier/customer
      // rows (2/25 of the fact volume survives each side) instead of
      // filtering after the full join tree — the classic Q7 plan
      val n1 = nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      lineitem(s, dir)
        .join(broadcast(supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
    }),

    // TPC-H Q8 shape: market share of one supplier nation within a
    // region, by ship year — the conditional-aggregation pattern
    // (sum(CASE)/sum, exact decimal partials so the share is
    // engine-identical) over the region-pruned fact
    "q8_market_share" -> ((s, dir) =>
      lineitem(s, dir)
        .join(broadcast(supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(
          sum(when(col("n_name") === "NATION_7", revenue)
            .otherwise(lit(0).cast("decimal(14,2)"))).as("nat"),
          sum(revenue).as("tot"))
        .select(col("ship_year"),
          (round(col("nat").cast("double") / col("tot").cast("double"), 6) + 0.0)
            .as("mkt_share"),
          col("tot").cast("double").as("total_revenue"))
        .orderBy(col("ship_year"))),

    // TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    // quarter-equivalent window — returned-flag fact filter, then the
    // order join reduced BEFORE the customer/nation broadcasts
    "q10_returned_customers" -> ((s, dir) =>
      lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)),

    // TPC-H Q12 shape: high/low-priority line counts per linestatus in
    // a ship-year window — the two-CASE conditional aggregation over
    // the orderkey join (the one fact-fact join here; shuffles keys +
    // one small int, never wide payloads)
    "q12_priority_split" -> ((s, dir) =>
      lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linestatus"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))),

    // TPC-H Q14 shape: promo revenue share for one ship month — scalar
    // conditional aggregate; the month predicate pushes to the scan and
    // the part dim broadcasts
    "q14_promo_revenue" -> ((s, dir) =>
      lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", revenue)
            .otherwise(lit(0).cast("decimal(14,2)"))).as("promo"),
          sum(revenue).as("tot"))
        .select(
          (round(lit(100.0) * col("promo").cast("double") /
            col("tot").cast("double"), 6) + 0.0).as("promo_share_pct"),
          col("tot").cast("double").as("total_revenue"))),

    // TPC-H Q19 shape: disjunction of three (brand, size-range,
    // quantity-range) conjunction blocks — the OR-of-ANDs predicate
    // that exercises join-condition pushdown; one-row exact total
    "q19_disjunctive_revenue" -> ((s, dir) =>
      lineitem(s, dir)
        .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(5, 25) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#20" && col("p_size").between(10, 40) &&
            col("l_quantity").between(20, 40)))
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))),

    // anti join: segments' customers with NO order in the window
    // (NOT EXISTS; the semi-join twin of q4_priority_exists — at scale
    // both shuffle only keys, never payloads)
    "inactive_customers" -> ((s, dir) => {
      val buyers = orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      customer(s, dir)
        .join(buyers, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_inactive"))
        .orderBy(col("c_mktsegment"))
    }),

    // full outer join: reconcile the customer dim against distinct
    // 1996 buyers — matched / dim-only / fact-only counts in one pass
    "customer_order_coverage" -> ((s, dir) => {
      val buyers = orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_custkey")).distinct()
      customer(s, dir).select(col("c_custkey"))
        .join(buyers, col("c_custkey") === col("o_custkey"), "full_outer")
        .agg(
          sum(when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, 1)
            .otherwise(0)).cast("long").as("n_matched"),
          sum(when(col("o_custkey").isNull, 1).otherwise(0)).cast("long")
            .as("n_customer_only"),
          sum(when(col("c_custkey").isNull, 1).otherwise(0)).cast("long")
            .as("n_order_only"))
    }),

    // CUBE: all four grouping combinations in one pass (rollup's
    // lattice sibling; Spark expands to an expanded-union aggregate)
    "cube_revenue" -> ((s, dir) =>
      // Expand multiplies rows 4x before the aggregate; the single-
      // row-group scan would run that on one core. Prune columns, then
      // spread (a 4-column shuffle halves the wall clock at sf0.1)
      lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice"), col("l_discount"))
        .repartition(s.sparkContext.defaultParallelism)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // explicit GROUPING SETS: exactly the two single-dimension subtotal
    // sets — the lattice-slice operator between rollup (prefix sets) and
    // cube (all sets); one Expand pass, no self-union of scans
    "grouping_sets_revenue" -> ((s, dir) =>
      lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice"), col("l_discount"))
        .repartition(s.sparkContext.defaultParallelism)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // set operations: segment membership vs active-buyer membership
    "customer_set_ops" -> ((s, dir) => {
      val building = customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val buyers = orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey")).distinct()
      val inter = building.intersect(buyers).agg(count(lit(1)).as("n_building_buyers"))
      val minus = building.except(buyers).agg(count(lit(1)).as("n_building_inactive"))
      val uni = building.union(buyers).distinct().agg(count(lit(1)).as("n_either"))
      inter.crossJoin(minus).crossJoin(uni)
    }),

    // dim rollup: customer count + exact decimal balance sum per nation
    "nation_customer_rollup" -> ((s, dir) =>
      customer(s, dir)
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast(Dec)).cast("double").as("total_acctbal"))
        .orderBy(col("n_name"))),

    // TPC-H Q6 proper: forecast-revenue change — the purest
    // pushdown-then-reduce shape (all three predicates reach the
    // parquet scan, one partial-aggregated scalar comes back)
    "q6_forecast_revenue" -> ((s, dir) =>
      lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").cast("decimal(4,2)") >= lit(0.05).cast("decimal(4,2)") &&
          col("l_discount").cast("decimal(4,2)") <= lit(0.07).cast("decimal(4,2)") &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(14,2)") *
            col("l_discount").cast("decimal(4,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))),

    // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    // join so zero-order customers land in the c_count=0 bucket, then
    // a second aggregation over the counts (two shuffles: custkey,
    // then count value; both tiny key spaces at any scale)
    "q13_order_distribution" -> ((s, dir) => {
      val ords = orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"))
      customer(s, dir).select(col("c_custkey"))
        .join(ords, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count")) // count skips nulls
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15 shape: top supplier(s) by quarterly revenue — the
    // revenue "view" materialized once, its max taken as a 1-row
    // broadcast scalar, and the equality join back done in EXACT
    // decimal (a double max-equality would be engine-dependent)
    "q15_top_supplier" -> ((s, dir) => {
      val rev = lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revenue).as("total_rev"))
      val top = rev.agg(max(col("total_rev")).as("max_rev"))
      supplier(s, dir)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(top), col("total_rev") === col("max_rev"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q17 shape: revenue impact of small-quantity orders for one
    // brand — the correlated per-part average DECORRELATED into an
    // aggregate + broadcast join-back, with the 0.2·avg threshold kept
    // EXACT by cross-multiplying integer-valued doubles
    // (qty·5·cnt < sum ⇔ qty < 0.2·sum/cnt, no float division drift)
    "q17_small_qty_revenue" -> ((s, dir) => {
      val partAvg = lineitem(s, dir)
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity")).as("sumq"), count(lit(1)).as("cntq"))
      lineitem(s, dir)
        .join(broadcast(part(s, dir).filter(col("p_brand") === "Brand#1")),
          col("l_partkey") === col("p_partkey"))
        .join(partAvg, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") * 5 * col("cntq") < col("sumq"))
        .agg((sum(col("l_extendedprice").cast(Dec)).cast("double") / 7.0)
          .as("avg_yearly"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q18 shape: large-volume customers — the HAVING-sum
    // subquery as an aggregate + semi join on orderkey, then customer
    // and order detail joined back; top 20 by quantity
    "q18_large_volume_customers" -> ((s, dir) => {
      val big = lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 180)
      orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_totalprice").cast(Dec).cast("double").as("totalprice"),
          col("total_qty").cast("long").as("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(20)
    }),

    // TPC-H Q22 shape: prospect customers — above-average balance
    // (threshold kept exact by cross-multiplying the decimal sum) with
    // no RECENT orders (anti join on the filtered order stream; the
    // testdata's customers nearly all have SOME order, so the
    // no-orders-ever variant would select zero rows), counted per
    // nation
    "q22_prospects" -> ((s, dir) => {
      val pos = customer(s, dir).filter(col("c_acctbal") > 0.0)
        .agg(sum(col("c_acctbal").cast(Dec)).as("sum_bal"),
          count(lit(1)).as("n_pos"))
      customer(s, dir)
        .crossJoin(broadcast(pos))
        .filter(col("c_acctbal").cast(Dec) * col("n_pos") > col("sum_bal"))
        .join(orders(s, dir)
          .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(Dec)).cast("double").as("totacctbal"))
        .orderBy(col("n_name"))
    }),

    // TPC-H Q21 proper: suppliers who kept finished orders waiting —
    // this supplier's line shipped late while every OTHER supplier on
    // the same (multi-supplier) order shipped on time. The testdata
    // carries no l_commitdate/l_receiptdate, so "late" is expressed
    // against the order itself: shipped >75 days after o_orderdate
    // (kowari-era TESTDATA.md ships only the 11-column lineitem).
    // Shape: EXISTS → left-semi, NOT EXISTS → left-anti, both over a
    // lineitem self-join keyed on l_orderkey with the <> suppkey
    // residual — at scale each shuffles only (orderkey, suppkey, late)
    // triples, never the payload, and the nation⋈supplier probe side
    // is broadcast BEFORE the self-joins so the semi/anti build sides
    // stream against an already-nation-pruned l1.
    "q21_suppliers_waiting" -> ((s, dir) => {
      val flagged = lineitem(s, dir)
        .join(orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 75 DAYS")).as("late"))
      val natSupp = supplier(s, dir)
        .join(broadcast(nation(s, dir).filter(col("n_name") === "NATION_9")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      val l1 = flagged.filter(col("late"))
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      val others = flagged.select(col("l_orderkey").as("o2_orderkey"),
        col("l_suppkey").as("o2_suppkey"), col("late").as("o2_late"))
      l1
        .join(others, col("l_orderkey") === col("o2_orderkey") &&
          col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
        .join(others.filter(col("o2_late")),
          col("l_orderkey") === col("o2_orderkey") &&
            col("l_suppkey") =!= col("o2_suppkey"), "left_anti")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(100)
    }),
  )

  override def oracle: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum((CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS sum_disc_price,
        |       CAST(sum(((CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))) AS DOUBLE) AS sum_charge,
        |       round(sum(l_quantity) / count(*), 6) AS avg_qty,
        |       CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_revenue" ->
      """SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
        |       CAST(sum((CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderkey, orderdate
        |ORDER BY revenue DESC, o.o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q16_supplier_census" ->
      """WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |kept AS (SELECT r.l_partkey, r.l_suppkey FROM rel r
        |         WHERE r.l_suppkey NOT IN
        |           (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
        |       CAST(count(DISTINCT k.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM kept k JOIN part p ON k.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#1'
        |GROUP BY p.p_brand, p.p_type, p.p_size
        |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p_size
        |LIMIT 30""".stripMargin,

    "q9_product_profit" ->
      """SELECT n.n_name AS nation,
        |       CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
        |                - CAST(p.p_retailprice AS DECIMAL(14,2)) * CAST(l.l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS profit,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY n.n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,

    "q5_region_volume" ->
      """SELECT r.r_name, n.n_name,
        |       CAST(sum((CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name
        |ORDER BY r.r_name, n.n_name""".stripMargin,

    "top_part_types" ->
      """SELECT p.p_type, CAST(sum(l.l_quantity) AS BIGINT) AS total_qty,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_type
        |ORDER BY total_qty DESC, p.p_type ASC
        |LIMIT 10""".stripMargin,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > TIMESTAMP '1998-01-01')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "order_priority_count" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "widget_parts" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(max(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS max_price
        |FROM part
        |WHERE p_name LIKE '%widget%' AND p_size >= 20
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "segment_top_customers" ->
      """WITH r AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
        |  FROM customer)
        |SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, c_custkey,
        |       CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS DOUBLE) AS acctbal
        |FROM r WHERE rnk <= 3
        |ORDER BY c_mktsegment, rnk""".stripMargin,

    "customer_balance_deciles" ->
      """WITH d AS (
        |  SELECT c_acctbal,
        |         ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS decile
        |  FROM customer)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_balance
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,

    "salted_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum((CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum((CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
        |       CAST(sum((CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        |GROUP BY supp_nation, cust_nation, ship_year
        |ORDER BY supp_nation, cust_nation, ship_year""".stripMargin,

    "q8_market_share" ->
      """WITH rev AS (
        |  SELECT CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
        |         sum(CASE WHEN n.n_name = 'NATION_7'
        |             THEN (CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
        |             ELSE CAST(0 AS DECIMAL(14,2)) END) AS nat,
        |         sum((CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))) AS tot
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |  GROUP BY ship_year)
        |SELECT ship_year,
        |       round(CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0 AS mkt_share,
        |       CAST(tot AS DOUBLE) AS total_revenue
        |FROM rev ORDER BY ship_year""".stripMargin,

    "q10_returned_customers" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |       CAST(sum((CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY revenue DESC, c.c_custkey ASC
        |LIMIT 20""".stripMargin,

    "q12_priority_split" ->
      """SELECT l.l_linestatus,
        |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        |GROUP BY l.l_linestatus
        |ORDER BY l.l_linestatus""".stripMargin,

    "q14_promo_revenue" ->
      """WITH rev AS (
        |  SELECT sum(CASE WHEN p.p_type = 'PROMO'
        |             THEN (CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
        |             ELSE CAST(0 AS DECIMAL(14,2)) END) AS promo,
        |         sum((CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))) AS tot
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
        |    AND l.l_shipdate <  TIMESTAMP '1996-10-01')
        |SELECT round(100.0 * CAST(promo AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0 AS promo_share_pct,
        |       CAST(tot AS DOUBLE) AS total_revenue
        |FROM rev""".stripMargin,

    "q19_disjunctive_revenue" ->
      """SELECT CAST(sum((CAST(l.l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1'  AND p.p_size BETWEEN 1 AND 15  AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 5 AND 25  AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 10 AND 40 AND l.l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "inactive_customers" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_inactive
        |FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1997-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "customer_order_coverage" ->
      """WITH buyers AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')
        |SELECT
        |  CAST(sum(CASE WHEN c.c_custkey IS NOT NULL AND b.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN b.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_customer_only,
        |  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_order_only
        |FROM customer c FULL OUTER JOIN buyers b ON c.c_custkey = b.o_custkey""".stripMargin,

    "cube_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum((CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "grouping_sets_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum((CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "customer_set_ops" ->
      """WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
        |SELECT
        |  CAST((SELECT count(*) FROM (SELECT * FROM building INTERSECT SELECT * FROM buyers)) AS BIGINT) AS n_building_buyers,
        |  CAST((SELECT count(*) FROM (SELECT * FROM building EXCEPT SELECT * FROM buyers)) AS BIGINT) AS n_building_inactive,
        |  CAST((SELECT count(*) FROM (SELECT * FROM building UNION SELECT * FROM buyers)) AS BIGINT) AS n_either""".stripMargin,

    "nation_customer_rollup" ->
      """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(4,2)) >= CAST(0.05 AS DECIMAL(4,2))
        |  AND CAST(l_discount AS DECIMAL(4,2)) <= CAST(0.07 AS DECIMAL(4,2))
        |  AND l_quantity < 24""".stripMargin,

    "q13_order_distribution" ->
      """WITH co AS (
        |  SELECT c.c_custkey, count(o.o_custkey) AS c_count
        |  FROM customer c LEFT OUTER JOIN
        |    (SELECT o_custkey FROM orders WHERE o_orderpriority <> '1-URGENT') o
        |    ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |SELECT CAST(c_count AS BIGINT) AS c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
        |FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
        |WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH pa AS (
        |  SELECT l_partkey AS pk, sum(l_quantity) AS sumq, count(*) AS cntq
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#1'
        |JOIN pa ON l.l_partkey = pa.pk
        |WHERE l.l_quantity * 5 * pa.cntq < pa.sumq""".stripMargin,

    "q18_large_volume_customers" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
        |       CAST(CAST(o.o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS totalprice,
        |       CAST(b.total_qty AS BIGINT) AS total_qty
        |FROM orders o
        |JOIN big b ON o.o_orderkey = b.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY total_qty DESC, o.o_orderkey ASC
        |LIMIT 20""".stripMargin,

    "q22_prospects" ->
      """WITH pos AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,4))) AS sum_bal, count(*) AS n_pos
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey, pos
        |WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * pos.n_pos > pos.sum_bal
        |  AND c.c_custkey NOT IN
        |      (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    "q21_suppliers_waiting" ->
      """WITH flagged AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |         (l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY) AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F')
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM flagged l1
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE l1.late
        |  AND n.n_name = 'NATION_9'
        |  AND EXISTS (SELECT 1 FROM flagged l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM flagged l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.late)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name ASC
        |LIMIT 100""".stripMargin,
  )
}

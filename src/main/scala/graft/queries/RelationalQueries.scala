package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables.{events, t}
import graft.operators.{AsOfJoin, RelationalOps}

/** Relational operator coverage (SURVEY §2.3–§2.8): projection/filter,
  * joins (incl. semi/anti/asof), aggregation (incl. rollup/cube/grouping
  * sets/totals), window functions, sorts/limits/LIMIT BY/WITH FILL,
  * set operations, quantiles/stats, conditional & argMin/argMax
  * aggregates, date functions. Each query has an exactly-mirrored DuckDB
  * oracle in [[RelationalQueries.oracles]].
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // TPC-H Q1-style pricing summary: the reference's bread-and-butter
    // hash aggregation (Aggregator.cpp) — Spark partial/final agg.
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") <= lit(java.sql.Date.valueOf("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Top-K pushdown into sort (reference executePreLimit) →
    // TakeOrderedAndProject, no global sort.
    "q02_top_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),

    // 3-way join + agg + top-K (TPC-H Q3 shape). Customer side is small →
    // broadcast; lineitem↔orders is the only shuffle.
    "q03_shipping_priority" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < lit(java.sql.Date.valueOf("1998-01-01")))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > lit(java.sql.Date.valueOf("1998-01-01")))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Semi-join (EXISTS) count by priority (TPC-H Q4 shape).
    "q04_order_priority" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      ord.join(li, ord("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // 4-way star join through region→nation→customer→orders→lineitem
    // (TPC-H Q5 shape). All dims broadcast; single fact shuffle.
    "q05_region_volume" -> ((s, dir) => {
      val region = t(s, dir, "region")
      val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // Filter-heavy scan agg (TPC-H Q6 shape) — predicate pushdown check.
    "q06_revenue_forecast" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate").cast("date") >= lit(java.sql.Date.valueOf("1996-01-01")) &&
          col("l_shipdate").cast("date") < lit(java.sql.Date.valueOf("1997-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    }),

    // ROLLUP (reference RollupStep/RollupTransform).
    "q07_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // CUBE (reference CubeStep/CubeTransform).
    "q08_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // GROUPING SETS via SQL (reference AggregatingStep.cpp:98-188).
    "q09_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus, count(1) AS n
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
      """)
    }),

    // Ranking window functions (reference WindowTransform.cpp:2460-2481).
    "q10_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
        .filter(col("rn") <= 5)
        .orderBy(col("o_orderstatus"), col("rn"))
    }),

    // Frames + offsets: running sum, lag/lead, ntile, nth_value.
    "q11_window_frames" -> ((s, dir) => {
      val base = t(s, dir, "orders").filter(col("o_custkey") < 50)
      val wOrd = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      base.select(
          col("o_orderkey"), col("o_custkey"),
          round(sum(col("o_totalprice"))
            .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_total"),
          round(lag(col("o_totalprice"), 1).over(wOrd), 2).as("prev_price"),
          round(lead(col("o_totalprice"), 1).over(wOrd), 2).as("next_price"),
          ntile(4).over(wOrd).cast("long").as("quartile"),
          round(nth_value(col("o_totalprice"), 2).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("second_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // LIMIT n BY group (reference LimitByStep.cpp).
    "q12_limit_by" -> ((s, dir) => {
      RelationalOps.limitBy(
          t(s, dir, "orders").filter(col("o_custkey") < 100),
          2,
          Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // DISTINCT (reference DistinctStep).
    "q13_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // INTERSECT / EXCEPT (reference IntersectOrExceptStep).
    "q14_intersect" -> ((s, dir) => {
      val r = t(s, dir, "lineitem").filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      val f = t(s, dir, "lineitem").filter(col("l_linestatus") === "F").select(col("l_orderkey"))
      r.intersect(f).orderBy(col("l_orderkey")).limit(100)
    }),
    "q15_except" -> ((s, dir) => {
      val all = t(s, dir, "orders").select(col("o_orderkey"))
      val withR = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o_orderkey"))
      all.except(withR).orderBy(col("o_orderkey")).limit(100)
    }),

    // ANTI join: customers without orders.
    "q16_anti_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // Scalar subquery → constant (reference ExecuteScalarSubqueriesVisitor).
    "q17_scalar_subquery" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val avgPrice = ord.agg(avg(col("o_totalprice"))).head().getDouble(0)
      ord.filter(col("o_totalprice") > lit(avgPrice) * 1.8)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey")).limit(100)
    }),

    // HAVING (post-aggregation filter).
    "q18_having" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
        .filter(col("n_orders") >= 15)
        .orderBy(col("o_custkey"))
    }),

    // WITH TOTALS (reference TotalsHavingStep).
    "q19_with_totals" -> ((s, dir) => {
      RelationalOps.withTotals(
          t(s, dir, "lineitem"),
          Seq("l_returnflag"),
          Seq(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty")))
        .orderBy(col("l_returnflag").asc_nulls_last)
    }),

    // ORDER BY ... WITH FILL over a date series (reference FillingStep).
    "q20_with_fill" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit(java.sql.Date.valueOf("1995-01-01")) &&
          col("o_orderdate").cast("date") <= lit(java.sql.Date.valueOf("1995-03-31")))
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(count(lit(1)).as("n"))
      RelationalOps.withFillDays(
          daily, "d",
          java.sql.Date.valueOf("1995-01-01"), java.sql.Date.valueOf("1995-04-01"),
          Seq("n" -> lit(0L)))
        .orderBy(col("d"))
    }),

    // ASOF JOIN (reference HashJoin.cpp:267-273): latest order at or
    // before each event's timestamp for the same user/customer.
    "q21_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("event_id") < 500)
      val ord = t(s, dir, "orders")
      AsOfJoin.asofJoin(
          ev, ord,
          col("user_id"), col("o_custkey"),
          col("ts"), col("o_orderdate"),
          Seq("last_order_date" -> col("o_orderdate")),
          inner = true)
        .select(col("event_id"), col("user_id"), col("last_order_date"))
        .orderBy(col("event_id"))
    }),

    // Exact quantiles — DISCRETE (element-picking) like the reference's
    // quantileExact: raw element values are bit-identical on both sides,
    // so no interpolation arithmetic can flip a rounding boundary (a
    // continuous-quantile variant failed exactly that way at sf0.001).
    "q22_quantiles" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q22_lineitem")
      s.sql("""
        SELECT l_returnflag,
          percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
          percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75,
          percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS p99
        FROM q22_lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // Statistical aggregates (reference stddev/var/corr/covar :41-47).
    "q23_stats" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qd"))
        .orderBy(col("l_returnflag"))
    }),

    // Conditional aggregation: the -If combinator family
    // (registerAggregateFunctions.cpp:84-96) → FILTER / sum(when).
    "q24_conditional_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .agg(
          round(sum(when(col("l_returnflag") === "R", col("l_quantity"))), 2).as("sum_qty_r"),
          count(when(col("l_discount") > 0.05, 1)).as("n_disc"),
          round(avg(when(col("l_linestatus") === "F", col("l_extendedprice"))), 2).as("avg_price_f"))
    }),

    // argMax / argMin (reference argMin/argMax) → max_by/min_by with
    // composite tie-break for determinism.
    "q25_argminmax" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("key_of_max"),
          min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey") * -1)).as("key_of_min"),
          round(max(col("o_totalprice")), 2).as("max_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // Date/time function family (toStartOfInterval/toYYYYMM →
    // date_trunc/year*100+month).
    "q26_date_functions" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(
          trunc(col("o_orderdate").cast("date"), "month").as("month_start"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("yyyymm"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("month_start"))
        .limit(24)
    }),

    // uniq family — exact variant (uniqExact → count distinct).
    "q27_uniq" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("uniq_supp"),
          countDistinct(col("l_partkey")).as("uniq_part"),
          countDistinct(col("l_orderkey")).as("uniq_ord"))
        .orderBy(col("l_returnflag"))
    }),

    // CROSS JOIN + filter → rewritten to inner by Catalyst
    // (reference CrossToInnerJoinVisitor).
    "q28_cross_to_inner" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      n.crossJoin(r)
        .filter(col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"), col("r_name"))
        .orderBy(col("n_name"))
    }),

    // ARRAY JOIN / UNNEST (reference ArrayJoinStep) → explode + posexplode.
    "q29_array_join" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(graft.functions.text.tokenize(col("text"))).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // WITH FILL ... INTERPOLATE: densify + carry last value forward
    // (reference FillingTransform interpolate).
    "q31_interpolate" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit(java.sql.Date.valueOf("1995-01-01")) &&
          col("o_orderdate").cast("date") <= lit(java.sql.Date.valueOf("1995-02-28")))
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(round(max(col("o_totalprice")), 2).as("mx"))
      val filled = RelationalOps.withFillDays(
        daily, "d",
        java.sql.Date.valueOf("1995-01-01"), java.sql.Date.valueOf("1995-03-01"),
        Seq.empty)
      RelationalOps.interpolateLastOver(filled, col("d"), Seq("mx"))
        .orderBy(col("d"))
    }),

    // JSON function family (reference FunctionsJSON.cpp) over the
    // events.props JSON column.
    "q32_json" -> ((s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 2).as("avg_value"))
        .orderBy(col("k_mod"))
    }),

    // uniq / uniqCombined (HLL) — approximate, rows-only check.
    // HLL uniq with a driver-checked error gate: the approx counts are
    // algorithm-specific (Spark HLL++ ≠ DuckDB HLL), so the oracle pins
    // the EXACT distinct counts plus a boolean asserting the HLL estimate
    // landed within its error envelope (rsd 0.05 → gate at 3× = 15%).
    // Deterministic: HLL++ is order-independent, so the booleans are
    // stable across runs and scale factors.
    "q33_uniq_approx" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("__ap"),
          approx_count_distinct(col("l_suppkey")).as("__as"),
          countDistinct(col("l_partkey")).as("uniq_part_exact"),
          countDistinct(col("l_suppkey")).as("uniq_supp_exact"))
        .select(col("l_returnflag"),
          col("uniq_part_exact"), col("uniq_supp_exact"),
          (abs(col("__ap") - col("uniq_part_exact")).cast("double") /
            col("uniq_part_exact") <= 0.15).as("part_hll_ok"),
          (abs(col("__as") - col("uniq_supp_exact")).cast("double") /
            col("uniq_supp_exact") <= 0.15).as("supp_hll_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // groupArray / groupUniqArray → collect_set, stringified for a
    // byte-stable golden compare.
    "q34_group_array" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // INTERSECT ALL / EXCEPT ALL (multiset semantics).
    "q35_setops_all" -> ((s, dir) => {
      val r = t(s, dir, "lineitem").filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      val f = t(s, dir, "lineitem").filter(col("l_linestatus") === "F").select(col("l_orderkey"))
      r.intersectAll(f).orderBy(col("l_orderkey")).limit(200)
    }),

    // LIMIT ... WITH TIES (rank-based).
    "q36_limit_with_ties" -> ((s, dir) => {
      // WITH TIES without a global window: the k-th value comes from
      // orderBy().limit(k) (TakeOrderedAndProject — per-partition top-K,
      // driver merges k·partitions rows), then one scan filters
      // `price >= threshold`. rank()<=k over an unpartitioned window would
      // sort the whole table in a single task.
      val orders = t(s, dir, "orders")
      val threshold = orders.select(col("o_totalprice"))
        .orderBy(col("o_totalprice").desc).limit(5)
        .agg(min(col("o_totalprice"))).head().get(0)
      orders.filter(col("o_totalprice") >= lit(threshold))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    }),

    // Lightweight DELETE then query: masked rows invisible to search
    // (reference tests 00016 / 00037_mqvs_multiple_lwd).
    "q37_lightweight_delete" -> ((s, dir) => {
      val masked = graft.operators.Deletes.delete(
        graft.operators.Deletes.delete(
          t(s, dir, "orders"), col("o_orderstatus") === "F"),
        col("o_totalprice") > 400000)
      graft.operators.Deletes.applyMask(masked)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(max(col("o_totalprice")), 2).as("max_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // numbers()/generateRandom() table functions → spark.range (+ seeded
    // deterministic rand is available via rand(seed); oracle covers the
    // deterministic arithmetic part).
    "q38_numbers" -> ((s, dir) => {
      s.range(0, 1000)
        .select(col("id").as("n"), (col("id") * col("id") % 7).as("sq_mod"))
        .filter(col("sq_mod") > 2)
        .orderBy(col("n"))
    }),

    // Round-12 TVF closure (TableFunctionFactory tail with a single-JVM
    // meaning): values() inline rows, format('JSONEachRow') inline parse,
    // zeros(), merge('regexp') union-by-name with the _table virtual
    // column — composed into one relational result the oracle replays
    // with VALUES / UNION ALL. (view()/explain()/dictionary()/
    // executable()/null() are spec-covered — no stable SQL-shaped
    // output: plans, process stdout, empty sets.)
    "q70_tvf_closure" -> ((s, dir) => {
      val T = graft.sources.TableFunctions
      t(s, dir, "nation").createOrReplaceTempView("__tvf_nation")
      t(s, dir, "region").createOrReplaceTempView("__tvf_region")
      val merged = T.merge(s, "__tvf_(nation|region)")
        .groupBy(col("_table")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).cast("long").as("merged_rows"),
          count(lit(1)).as("merged_tables"))
      val vals = T.values(s, "k BIGINT, v STRING",
        Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
      val fmt = T.format(s, "JSONEachRow",
        "{\"k\":1,\"w\":10}\n{\"k\":2,\"w\":20}\n{\"k\":3,\"w\":30}")
      val zeros = T.zeros(s, 5)
        .agg(sum(col("zero")).cast("long").as("zsum"), count(lit(1)).as("zn"))
      vals.join(fmt, "k")
        .agg(count(lit(1)).as("nv"), sum(col("w")).cast("long").as("wsum"),
          max(col("v")).as("vmax"))
        .crossJoin(zeros)
        .crossJoin(merged)
    }),

    // dictGet over a broadcast dictionary (nation key → name).
    "q39_dict_get" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val dict = RelationalOps.dictGet(nation, "n_nationkey", "n_name") _
      t(s, dir, "customer")
        .select(col("c_custkey"), dict(col("c_nationkey")).as("nation_name"),
          RelationalOps.dictGetOrDefault(nation, "n_nationkey", "n_name")(
            col("c_nationkey") + 100, lit("unknown")).as("nation_or_default"),
          RelationalOps.dictHas(nation, "n_nationkey")(col("c_nationkey"))
            .as("has_key"),
          RelationalOps.dictHas(nation, "n_nationkey")(col("c_nationkey") + 100)
            .as("has_missing"))
        .orderBy(col("c_custkey"))
        .limit(100)
    }),

    // Correlated aggregate subquery (TPC-H Q17 shape): rows below 20% of
    // their part's average quantity — decorrelated into an aggregate join.
    "q40_correlated_subquery" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_limit"))
      li.join(perPart, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("qty_limit"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n"))
    }),

    // ReplacingMergeTree FINAL: greatest-version row per key
    // (ReplacingSortedAlgorithm.cpp) — latest order per customer.
    "q41_replacing_final" -> ((s, dir) => {
      RelationalOps.replacingFinal(t(s, dir, "orders"),
          Seq(col("o_custkey")), col("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_custkey"))
        .limit(100)
    }),
    // ANY LEFT JOIN: at most one right match per key (deterministic
    // smallest-orderkey pick) — first order per customer.
    "q42_any_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
      val ords = t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
          col("o_totalprice"))
      RelationalOps.anyLeftJoin(cust, ords, Seq("c_custkey"), col("o_orderkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("first_price"))
        .orderBy(col("c_custkey"))
        .limit(200)
    }),
    // ALTER TABLE UPDATE mutation: zero out discounts on late shipments,
    // then aggregate — rows outside the predicate pass through.
    "q43_update_mutation" -> ((s, dir) => {
      val mutated = RelationalOps.update(t(s, dir, "lineitem"),
        col("l_shipdate") >= "1997-01-01",
        Seq("l_discount" -> lit(0.0)))
      mutated.groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_discount")), 2).as("sum_disc"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("l_returnflag"))
    }),
    // LEFT ARRAY JOIN (ArrayJoinTransform with LEFT): rows with empty
    // arrays survive with a NULL element.
    "q44_left_array_join" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("long_toks",
          filter(graft.functions.text.tokenize(col("text")), x => length(x) > 8))
      d.select(col("doc_id"), explode_outer(col("long_toks")).as("tok"))
        .orderBy(col("doc_id"), col("tok"))
        .limit(500)
    }),

    // Aggregate PROJECTION: the optimizer substitutes the materialized
    // partial-aggregate table for the scan (ProjectionRewrite; plan
    // asserted in ProjectionSpec) — values must match the base table.
    "q46_projection_agg" -> ((s, dir) => {
      projDir(s, dir) // build + register the projection once per sf dir
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    // VersionedCollapsingMergeTree FINAL: -1 rows cancel same-version +1
    // rows; survivors aggregate (every third order gets a cancel row).
    "q45_versioned_collapse" -> ((s, dir) => {
      val plus = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("sign", lit(1)).withColumn("ver", lit(1))
      val minus = plus.filter(col("o_orderkey") % 3 === 0)
        .withColumn("sign", lit(-1))
      val survivors = RelationalOps.versionedCollapse(
        plus.union(minus), Seq(col("o_orderkey")), col("sign"), col("ver"))
      survivors.agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
    }),
    // CollapsingMergeTree FINAL withOUT a version column
    // (CollapsingSortedAlgorithm.cpp): insertion order decides which +1
    // row survives. Stream: insert all orders (gen 1); cancel every third
    // (gen 2); re-insert every ninth with a 10%-raised price (gen 3).
    // FINAL = untouched orders + the re-inserted ninths.
    "q47_collapsing_final" -> ((s, dir) => {
      val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val ins1 = base.withColumn("sign", lit(1)).withColumn("gen", lit(1))
      val del2 = base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("sign", lit(-1)).withColumn("gen", lit(2))
      val ins3 = base.filter(col("o_orderkey") % 9 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .withColumn("sign", lit(1)).withColumn("gen", lit(3))
      val survivors = RelationalOps.collapsingFinal(
        ins1.union(del2).union(ins3),
        Seq(col("o_orderkey")), col("sign"), col("gen"))
      survivors.agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // Sign-weighted aggregation WITHOUT FINAL — the canonical ClickHouse
    // idiom for CollapsingMergeTree tables (sum(x·sign)/sum(sign) over
    // the raw stream equals the post-FINAL aggregate when cancels pair,
    // with NO collapse pass at all): both paths computed side by side.
    "q52_sign_weighted_agg" -> ((s, dir) => {
      val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val ins1 = base.withColumn("sign", lit(1)).withColumn("gen", lit(1))
      val del2 = base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("sign", lit(-1)).withColumn("gen", lit(2))
      val ins3 = base.filter(col("o_orderkey") % 9 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .withColumn("sign", lit(1)).withColumn("gen", lit(3))
      // materialized once: three consumers (the weighted agg and both
      // sides of collapsingFinal) would otherwise each re-run the
      // 3-branch union = 9 scans of orders (r21; slim 4-col rows)
      val stream = ins1.union(del2).union(ins3).localCheckpoint(true)
      val weighted = stream.agg(
        sum(col("sign")).cast("long").as("n"),
        round(sum(col("o_totalprice") * col("sign")), 2).as("total"))
      val collapsed = RelationalOps.collapsingFinal(
          stream, Seq(col("o_orderkey")), col("sign"), col("gen"))
        .agg(count(lit(1)).as("n_final"),
          round(sum(col("o_totalprice")), 2).as("total_final"))
      weighted.crossJoin(collapsed)
    }),
    // SummingMergeTree FINAL (SummingSortedAlgorithm.cpp): same-key rows
    // collapse with numeric columns summed, other columns take a
    // deterministic survivor (min) — completes the merge-tree engine
    // family (Replacing q41 / Collapsing q47 / VersionedCollapsing q45 /
    // Aggregating e11).
    "q49_summing_final" -> ((s, dir) => {
      val collapsed = RelationalOps.summingFinal(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_linenumber")),
        keys = Seq("l_orderkey"),
        sumCols = Seq("l_quantity", "l_extendedprice"))
      collapsed.agg(
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        sum(col("l_linenumber")).cast("long").as("sum_ln"))
    }),
    // SAMPLE clause: deterministic hash-range sample (10%) — the same
    // rows every run, so the sampled aggregate is exactly reproducible
    // (and oracle-checkable, unlike rand() sampling).
    "q48_sample" -> ((s, dir) => {
      RelationalOps.sampleByKey(t(s, dir, "orders"), col("o_orderkey"), 1, 10)
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          round(avg(col("o_totalprice")), 2).as("avg_price"))
    }),
    // LIMIT offset, n BY — per-group pagination (LimitByStep.cpp):
    // page 2 (rows 3-4) of each customer's orders by recency.
    "q50_limit_by_offset" -> ((s, dir) => {
      RelationalOps.limitByOffset(
        t(s, dir, "orders").filter(col("o_custkey") <= 50),
        offset = 2, n = 2,
        by = Seq(col("o_custkey")),
        order = Seq(col("o_orderkey").desc))
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),
    // Numeric WITH FILL FROM/TO/STEP: dense quantity buckets 1..50 step
    // 5, zero-filled where no lineitem falls in the bucket.
    "q51_with_fill_step" -> ((s, dir) => {
      val byBucket = t(s, dir, "lineitem")
        .withColumn("qb", (floor(col("l_quantity") / 5) * 5).cast("long"))
        .groupBy(col("qb"))
        .agg(count(lit(1)).as("n"))
      RelationalOps.withFillStep(byBucket, "qb", 0L, 65L, 5L,
          Seq("n" -> lit(0L)))
        .orderBy(col("qb"))
    }),
    // Window-registry closure (reference WindowTransform.cpp:2481-2488):
    // the registered window functions without a driver row elsewhere —
    // percent_rank, cume_dist, lagInFrame/leadInFrame with explicit
    // DEFAULT values, first_value/last_value over an explicit frame
    // (q10 covers row_number/rank/dense_rank; q11 covers running frames,
    // plain lag/lead, ntile, nth_value).
    "q60_window_registry" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").filter(col("o_custkey") <= 100)
        .select(
          col("o_custkey"), col("o_orderkey"),
          round(percent_rank().over(w), 4).as("pct_rank"),
          round(cume_dist().over(w), 4).as("cdist"),
          round(lag(col("o_totalprice"), 1, -1.0).over(w), 2).as("lag_def"),
          round(lead(col("o_totalprice"), 1, -1.0).over(w), 2).as("lead_def"),
          round(first(col("o_totalprice")).over(wf), 2).as("first_p"),
          round(last(col("o_totalprice")).over(wf), 2).as("last_p"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // WITH FILL FROM/TO semantics parity (FillingTransform.cpp): the TO
    // bound is EXCLUSIVE and original rows OUTSIDE [from, to) are
    // preserved, not dropped — sparse buckets 0/5/20/45, fill window
    // [15, 40) step 5.
    "q61_with_fill_bounds" -> ((s, dir) => {
      val byBucket = t(s, dir, "lineitem")
        .filter(col("l_quantity").cast("int").isin(2, 7, 22, 48))
        .withColumn("qb", (floor(col("l_quantity") / 5) * 5).cast("long"))
        .groupBy(col("qb"))
        .agg(count(lit(1)).as("n"))
      RelationalOps.withFillStep(byBucket, "qb", 15L, 40L, 5L,
          Seq("n" -> lit(0L)))
        .orderBy(col("qb"))
    }),

    // Scalar tranche 13 end-to-end: tuple/vector arithmetic
    // (vectorFunctions.cpp names over the array mapping) — the oracle
    // recomputes every norm/distance from the component scalars.
    "q62_tuple_arithmetic" -> ((s, dir) => {
      t(s, dir, "customer").filter(col("c_custkey") <= 100)
        .selectExpr("c_custkey",
          "array(CAST(c_acctbal AS DOUBLE), CAST(c_custkey AS DOUBLE)) AS va",
          "array(CAST(c_nationkey * 10 AS DOUBLE), CAST(c_custkey % 7 AS DOUBLE)) AS vb")
        .selectExpr("c_custkey",
          "round(scalarProduct(va, vb), 4) AS dot",
          "round(distanceL1(va, vb), 4) AS d1",
          "round(distanceL2(va, vb), 4) AS d2",
          "round(distanceLinf(va, vb), 4) AS dinf",
          "round(LpDistance(va, vb, 3D), 4) AS d3",
          "round(normL2(tuplePlus(va, vb)), 4) AS n2",
          "CAST(tupleHammingDistance(va, vb) AS INT) AS hd")
        .orderBy(col("c_custkey"))
    }),

    // Scalar tranche 13/14 end-to-end: mysql-%-spec formatDateTime
    // (formatDateTime.cpp switch) + the H3 index-math family
    // (h3*.cpp) — the oracle recomputes the dates with DuckDB strftime
    // (same C %-grammar) and the H3 cells with plain bit arithmetic on
    // the published index layout.
    // Best-effort datetime scanner end-to-end (parseDateTimeBestEffort.cpp
    // behavior port, golden-asserted in BestEffortDateTimeSpec): a mixed
    // column cycling through 6 formats — ISO, DD/MM/YYYY, compact
    // YYYYMMDDhhmmss, RFC-2822 with a +0330 zone, unix seconds and
    // DD-Mon-YY — parsed by the scanner; the oracle computes the expected
    // instants arithmetically per format branch.
    "q69_datetime_parse" -> ((s, dir) => {
      t(s, dir, "orders").filter(col("o_orderkey") <= 3000)
        .withColumn("base", expr(
          "CAST(o_orderdate AS TIMESTAMP) + make_interval(0, 0, 0, 0, 0, 0, o_orderkey % 86399)"))
        .withColumn("fmt", expr("CAST(o_orderkey % 6 AS INT)"))
        .withColumn("s", expr("""
          CASE fmt
            WHEN 0 THEN date_format(base, 'yyyy-MM-dd HH:mm:ss')
            WHEN 1 THEN date_format(base, 'dd/MM/yyyy')
            WHEN 2 THEN date_format(base, 'yyyyMMddHHmmss')
            WHEN 3 THEN concat('Mon, ', date_format(base, 'dd MMM yyyy HH:mm:ss'), ' +0330')
            WHEN 4 THEN CAST(unix_timestamp(base) AS STRING)
            ELSE date_format(base, 'dd-MMM-yy')
          END"""))
        .selectExpr("o_orderkey", "fmt", "s",
          "parseDateTimeBestEffort(s) AS parsed",
          "parseDateTimeBestEffortOrNull(concat(s, ' q#')) AS bad_null",
          "parseDateTimeBestEffortUS(date_format(base, 'MM/dd/yyyy HH:mm:ss')) AS parsed_us")
        .orderBy(col("o_orderkey"))
    }),
    // Named-dictionary catalog end-to-end (FunctionsExternalDictionaries
    // .cpp + src/Dictionaries/): CREATE-DICTIONARY-shaped registration of
    // nation (flat layout) and a nations→regions hierarchy, then the
    // typed SQL getters + OrDefault + OrNull + dictHas + the hierarchy
    // family resolved BY NAME over customer rows. Oracle: plain joins.
    "q68_dictionary" -> ((s, dir) => {
      import graft.operators.Dictionaries
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      Dictionaries.create("nat", nation, "n_nationkey",
        Map("n_name" -> "String", "n_regionkey" -> "UInt64"))
      val hier = nation
        .selectExpr("CAST(n_nationkey + 1 AS BIGINT) AS id",
          "CAST(n_regionkey + 101 AS BIGINT) AS parent")
        .unionByName(region.selectExpr(
          "CAST(r_regionkey + 101 AS BIGINT) AS id", "CAST(0 AS BIGINT) AS parent"))
      Dictionaries.create("geo", hier, "id",
        Map("parent" -> "UInt64"), hierarchical = Some("parent"))
      t(s, dir, "customer").filter(col("c_custkey") <= 200)
        .selectExpr("c_custkey",
          "dictGetString('nat', 'n_name', CAST(c_nationkey AS BIGINT)) AS nat_name",
          "dictGetUInt64('nat', 'n_regionkey', CAST(c_nationkey AS BIGINT)) AS region_key",
          "dictGetStringOrDefault('nat', 'n_name', CAST(c_custkey * 1000 + 500 AS BIGINT), 'none') AS missing_name",
          "dictGetUInt64OrDefault('nat', 'n_regionkey', CAST(c_custkey * 1000 + 500 AS BIGINT), 99L) AS missing_region",
          "dictGetOrNull('nat', 'n_name', CAST(c_nationkey AS BIGINT)) AS name_or_null",
          "CAST(dictHas('nat', CAST(c_nationkey AS BIGINT)) AS INT) AS has_key",
          "size(dictGetHierarchy('geo', CAST(c_nationkey + 1 AS BIGINT))) AS hier_len",
          "CAST(dictIsIn('geo', CAST(c_nationkey + 1 AS BIGINT), CAST(c_custkey % 5 + 101 AS BIGINT)) AS INT) AS in_region",
          "size(dictGetChildren('geo', CAST(c_custkey % 5 + 101 AS BIGINT))) AS region_nations",
          "size(dictGetDescendants('geo', CAST(c_custkey % 5 + 101 AS BIGINT), 0)) AS region_desc")
        .orderBy(col("c_custkey"))
    }),
    // H3 geometric core end-to-end (geoToH3/h3ToGeo/h3kRing/h3HexRing,
    // reference h3ToGeo.cpp + h3kRing.cpp): drive the 16 published golden
    // coordinates (reference test 01906/01042/02293 fixtures, res 0-15)
    // through the projection and ring traversal; the oracle holds the
    // reference's own published outputs (indexes, 3-dp centers, ring
    // sizes and element checksums of its golden arrays) as literals.
    "q67_h3_geometry" -> ((s, dir) => {
      val golden = Seq(
        (1, -173.6412167681162, -14.130272474941535, 0),
        (2, 59.48137613600854, 58.020407687755686, 1),
        (3, 172.68095885060296, -83.6576608516349, 2),
        (4, -94.46556851304558, -69.1999982492279, 3),
        (5, -8.188263637093279, -55.856179102736284, 4),
        (6, 77.25594891852249, 47.39278564360122, 5),
        (7, 135.11348004704536, 36.60778126579667, 6),
        (8, 39.28534828967223, 49.07710003066973, 7),
        (9, 124.71163478198051, -27.481172161567258, 8),
        (10, -147.4887686066785, 76.73237945824442, 9),
        (11, 86.63291906118863, -25.52526285188784, 10),
        (12, 23.27751790712118, 13.126101362212724, 11),
        (13, -70.40163237204142, -63.12562536833242, 12),
        (14, 15.642428355535966, 40.285813505163574, 13),
        (15, -76.53411447979884, 54.5560449693637, 14),
        (16, 8.19906334981474, 67.69370966550179, 15))
      val s0 = s
      import s0.implicits._
      golden.toDF("id", "lon", "lat", "res")
        .selectExpr("id", "geoToH3(lon, lat, res) AS h")
        .selectExpr("id", "h",
          "round(h3ToGeo(h)._1, 3) AS lon_c",
          "round(h3ToGeo(h)._2, 3) AS lat_c",
          "size(h3kRing(h, id)) AS kring_n",
          "aggregate(h3kRing(h, id), 0L, (acc, x) -> (acc + pmod(x, 1000000007L)) % 1000000007L) AS kring_sum",
          "IF(id = 1, NULL, size(h3HexRing(h, id))) AS hexring_n",
          "IF(id = 1, NULL, aggregate(h3HexRing(h, id), 0L, (acc, x) -> (acc + pmod(x, 1000000007L)) % 1000000007L)) AS hexring_sum",
          "size(h3ToGeoBoundary(h)) AS bnd_n",
          "round(h3ToGeoBoundary(h)[0]._1, 2) AS bnd0_lat",
          "round(h3ToGeoBoundary(h)[0]._2, 2) AS bnd0_lon",
          "CAST(h3UnidirectionalEdgeIsValid(h3GetUnidirectionalEdgesFromHexagon(h)[2]) AS INT) AS edge_valid",
          "CAST(array_contains(h3kRing(h, 1), h3GetDestinationIndexFromUnidirectionalEdge(h3GetUnidirectionalEdgesFromHexagon(h)[2])) AS INT) AS edge_dest_in_ring")
        .orderBy(col("id"))
    }),
    // Polygon algebra end-to-end (boost::geometry family; reference
    // polygonsIntersection.cpp / polygonsUnion.cpp / polygonsSymDifference
    // .cpp / polygonsWithin.cpp / polygonArea.cpp / polygonConvexHull.cpp):
    // a 25×25 grid of axis-aligned rectangle pairs drives the
    // Martinez–Rueda clipper through disjoint / touching / overlapping /
    // nested / identical configurations; the oracle recomputes every
    // measure analytically (rectangle algebra in SQL; Van Oosterom–
    // Strackee spherical excess + haversine for the spherical columns).
    "q71_polygon_algebra" -> ((s, dir) => {
      val grid = s.range(0, 25).selectExpr("id AS i")
        .crossJoin(s.range(0, 25).selectExpr("id AS j"))
        .selectExpr("i", "j",
          "CAST(i % 5 AS DOUBLE) AS ax0", "CAST(i DIV 5 AS DOUBLE) AS ay0",
          "CAST(i % 5 + 2 + i % 3 AS DOUBLE) AS ax1",
          "CAST(i DIV 5 + 1 + i % 4 AS DOUBLE) AS ay1",
          "CAST(j % 5 AS DOUBLE) AS bx0", "CAST(j DIV 5 AS DOUBLE) AS by0",
          "CAST(j % 5 + 2 + j % 3 AS DOUBLE) AS bx1",
          "CAST(j DIV 5 + 1 + j % 4 AS DOUBLE) AS by1")
      def pt(x: String, y: String) = s"struct($x AS px, $y AS py)"
      val A = s"array(array(array(${pt("ax0","ay0")}, ${pt("ax0","ay1")}, ${pt("ax1","ay1")}, ${pt("ax1","ay0")})))"
      val B = s"array(array(array(${pt("bx0","by0")}, ${pt("bx0","by1")}, ${pt("bx1","by1")}, ${pt("bx1","by0")})))"
      val A5 = s"array(array(array(${pt("ax0","ay0")}, ${pt("ax0","ay1")}, ${pt("ax1","ay1")}, ${pt("ax1","ay0")}, ${pt("(ax0+ax1)/2","(ay0+ay1)/2")})))"
      grid.selectExpr("i", "j",
        s"polygonAreaCartesian($A) AS area_a",
        s"polygonPerimeterCartesian($A) AS perim_a",
        s"polygonAreaCartesian(polygonsIntersectionCartesian($A, $B)) AS inter_area",
        s"polygonAreaCartesian(polygonsUnionCartesian($A, $B)) AS union_area",
        s"polygonAreaCartesian(polygonsSymDifferenceCartesian($A, $B)) AS symdiff_area",
        s"CAST(polygonsWithinCartesian($A, $B) AS INT) AS within_ab",
        s"CAST(polygonsEqualsCartesian($A, $B) AS INT) AS eq_ab",
        s"round(polygonsDistanceCartesian($A, $B), 9) AS dist_ab",
        s"polygonAreaCartesian(array(polygonConvexHullCartesian($A5))) AS hull_area",
        s"size(polygonsIntersectionCartesian($A, $B)) AS inter_n",
        s"round(polygonAreaSpherical($A), 9) AS area_sph",
        s"round(polygonPerimeterSpherical($A), 9) AS perim_sph",
        s"round(polygonsDistanceSpherical(array(array(array(${pt("ax0","ay0")}))), array(array(array(${pt("bx1 + 20D","by1 + 30D")})))), 9) AS dist_sph")
        .orderBy(col("i"), col("j"))
    }),
    // Bucketed point-in-polygon join + polygon-dictionary semantics
    // (reference src/Dictionaries/PolygonDictionaryIndexEach.cpp grid
    // index re-expressed as a cell equi-join; fixtures are the
    // reference's own 01037 polygon-dictionary shapes): 1600 points on a
    // .25-offset grid (never on a polygon boundary) reverse-geocode
    // against the six 01037 polygons with smallest-area-wins ties; the
    // oracle recomputes containment analytically per shape.
    "q72_spatial_join" -> ((s, dir) => {
      val s0 = s
      import s0.implicits._
      val polyDf = Seq(
        ("Click", 42L,
          "MULTIPOLYGON(((1 3,1 1,3 1,3 -1,1 -1,1 -3,-1 -3,-1 -1,-3 -1,-3 1,-1 1,-1 3)),((5 5,5 1,7 1,7 7,1 7,1 5)))"),
        ("House", 314159L,
          "MULTIPOLYGON(((5 5,5 -5,-5 -5,-5 5),(1 3,1 1,3 1,3 -1,1 -1,1 -3,-1 -3,-1 -1,-3 -1,-3 1,-1 1,-1 3)))"),
        ("Click East", 421L, "MULTIPOLYGON(((3 1,0 1,0 -1,3 -1)))"),
        ("Click North", 422L, "MULTIPOLYGON(((-1 1,1 1,1 3,-1 3)))"),
        ("Click South", 423L, "MULTIPOLYGON(((-3 1,-3 -1,0 -1,0 1)))"),
        ("Click West", 424L, "MULTIPOLYGON(((-1 -1,1 -1,1 -3,-1 -3)))"))
        .toDF("name", "value", "w")
        .selectExpr("name", "value", "readWKTMultiPolygon(w) AS poly")
      val pts = s.range(0, 1600).selectExpr("id",
        "CAST(id % 40 AS DOUBLE) * 0.5 - 10 + 0.25 AS x",
        "CAST(id DIV 40 AS DOUBLE) * 0.5 - 10 + 0.25 AS y")
      // the same fixtures as a LAYOUT(POLYGON) dictionary: the broadcast
      // lookup must agree with the distributed join on every row
      // (smallest-area tie rule on both paths)
      graft.operators.Dictionaries.createPolygon("geo_q72", polyDf
        .selectExpr("poly AS key", "name", "value"),
        "key", Map("name" -> "String", "value" -> "UInt64"))
      graft.operators.SpatialJoin
        .pointInPolygonJoin(pts, "x", "y", polyDf, "poly", 2.0, smallestOnly = true)
        .withColumn("dict_name",
          expr("dictGetPointOrDefault('geo_q72', 'name', x, y, 'none')"))
        .groupBy(col("name"), col("value"))
        .agg(count(lit(1)).as("cnt"), sum(col("id")).as("sum_id"),
          round(sum(col("x") + col("y")), 6).as("sum_xy"),
          sum(when(col("dict_name") === col("name"), 1L).otherwise(0L)).as("dict_agree"))
        .selectExpr("name", "value", "CAST(cnt AS BIGINT) AS cnt",
          "CAST(sum_id AS BIGINT) AS sum_id", "sum_xy",
          "CAST(dict_agree AS BIGINT) AS dict_agree")
        .orderBy(col("name"))
    }),
    // Skew-salted join correctness (RelationalOps.saltedJoin; the
    // reference leans on shard-level rebalancing, Spark-side the explicit
    // tool is key salting): a deliberately hot 3-key join must produce
    // exactly the plain-join aggregate.
    "q73_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .selectExpr("l_orderkey", "l_quantity", "l_orderkey % 3 AS hot")
      val dim = s.range(0, 3).selectExpr("id AS hotkey", "concat('grp_', id) AS grp")
      graft.operators.RelationalOps
        .saltedJoin(li, dim, col("hot"), col("hotkey"), saltFactor = 8)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("qty"))
        .selectExpr("grp", "CAST(cnt AS BIGINT) AS cnt",
          "CAST(round(qty, 2) AS DOUBLE) AS qty")
        .orderBy(col("grp"))
    }),
    // ENGINE = Join / ENGINE = Set storage analogs under the driver gate
    // (ref StorageJoin.cpp / StorageSet.cpp / FunctionJoinGet.cpp):
    // nation registered as an ANY-LEFT Join table, even nation keys as a
    // Set table; customers look their nation name up with joinGet and
    // filter through inSet; a joinGetOrNull miss pins the NULL path.
    "q81_join_storage" -> ((s, dir) => {
      graft.operators.JoinSetStorage.createJoin("q81_nations",
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        "n_nationkey")
      graft.operators.JoinSetStorage.createSet("q81_even_nations",
        t(s, dir, "nation").filter(col("n_nationkey") % 2 === 0)
          .select(col("n_nationkey")))
      t(s, dir, "customer")
        .selectExpr(
          "joinGet('q81_nations', 'n_name', c_nationkey) AS nation",
          "c_nationkey")
        .where(expr("inSet('q81_even_nations', c_nationkey)"))
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("cnt"),
          max(expr("joinGetOrNull('q81_nations', 'n_name', 9999)")).as("missing"))
        .selectExpr("nation", "CAST(cnt AS BIGINT) AS cnt",
          "CAST(missing AS STRING) AS missing")
        .orderBy(col("nation"))
    }),
    // system.parts consistency (sources/SystemParts over parquet footers,
    // reference system.parts): footer-derived totals and column stats
    // must equal what a full scan computes.
    "q74_system_parts" -> ((s, dir) => {
      graft.sources.SystemParts
        .parts(s, s"$dir/lineitem.parquet", statCols = Seq("l_orderkey"))
        .agg(
          sum(col("rows")).as("nrows"),
          min(expr("CAST(min_values['l_orderkey'] AS BIGINT)")).as("min_ok"),
          max(expr("CAST(max_values['l_orderkey'] AS BIGINT)")).as("max_ok"))
        .selectExpr("CAST(nrows AS BIGINT) AS nrows",
          "CAST(min_ok AS BIGINT) AS min_ok", "CAST(max_ok AS BIGINT) AS max_ok")
    }),
    // system.tables / system.databases analogs (SystemCatalog; ref
    // StorageSystemTables.cpp / StorageSystemDatabases.cpp — the r18
    // sampled audit's one GAP): register two known views, then read
    // them back through the catalog tables. Deterministic rows, exact
    // VALUES oracle.
    "q89_system_catalog" -> ((s, dir) => {
      t(s, dir, "region").createOrReplaceTempView("q89_region_view")
      t(s, dir, "nation").createOrReplaceTempView("q89_nation_view")
      val tbl = graft.sources.SystemCatalog.tables(s, _.startsWith("q89_"))
        .select(col("database"), col("name"), col("engine"),
          col("is_temporary"), col("total_rows"), col("total_bytes"))
      val db = graft.sources.SystemCatalog.databases(s)
        .filter(col("name") === "default")
        .select(lit("").as("database"), concat(lit("db:"), col("name")).as("name"),
          col("engine"), lit(false).as("is_temporary"),
          lit(null).cast("long").as("total_rows"),
          lit(null).cast("long").as("total_bytes"))
      tbl.unionAll(db).orderBy(col("name"))
    }),
    // system.columns analog (SystemCatalog.columns; ref
    // StorageSystemColumns.cpp, stateful test 00142_system_columns —
    // the seed-22 audit's one GAP): register two known views, read
    // their per-column rows back through the catalog. Metadata-only,
    // deterministic, exact VALUES oracle.
    "q92_system_columns" -> ((s, dir) => {
      t(s, dir, "region").createOrReplaceTempView("q92_region_view")
      s.sql("SELECT CAST(1 AS BIGINT) AS a, CAST(1.5 AS DOUBLE) AS b, 'x' AS c")
        .createOrReplaceTempView("q92_typed_view")
      graft.sources.SystemCatalog.columns(s, _.startsWith("q92_"))
        .orderBy(col("table"), col("position"))
    }),
    // KMV theta-sketch distinct counting + set algebra (functions/
    // ThetaSketch; reference uniqTheta + uniqThetaUnion/Intersect/Not):
    // two order-parity cohorts of part keys, sketched at the default k
    // and at a deliberately small k=256; every estimate must sit inside
    // its published error envelope of the EXACT cohort algebra, which
    // the oracle recomputes. Gates, not raw estimates, so the row is
    // stable at every scale factor.
    "q75_theta_sketch" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val smallAgg = org.apache.spark.sql.functions
        .udaf(new graft.functions.ThetaSketch.ThetaAgg(256))
      val sk = li
        .selectExpr("CAST(l_partkey AS STRING) AS pk", "l_orderkey % 2 AS coh")
        .groupBy(col("coh"))
        .agg(expr("uniqThetaSketch(pk)").as("s"), smallAgg(col("pk")).as("s256"))
      val a = sk.filter(col("coh") === 0).selectExpr(
        "s.theta AS ta", "s.hashes AS ha", "s256.theta AS ta2", "s256.hashes AS ha2")
      val b = sk.filter(col("coh") === 1).selectExpr(
        "s.theta AS tb", "s.hashes AS hb", "s256.theta AS tb2", "s256.hashes AS hb2")
      val ex = li
        .selectExpr("l_partkey",
          "CAST(l_orderkey % 2 = 0 AS INT) AS ia",
          "CAST(l_orderkey % 2 = 1 AS INT) AS ib")
        .groupBy(col("l_partkey"))
        .agg(max(col("ia")).as("ina"), max(col("ib")).as("inb"))
        .agg(sum(col("ina")).as("exact_a"), sum(col("inb")).as("exact_b"),
          count(lit(1)).as("exact_union"),
          sum(col("ina") * col("inb")).as("exact_inter"),
          sum(col("ina") * (lit(1) - col("inb"))).as("exact_anotb"))
      def gate(est: String, exact: String, tol: Double, slack: Long) =
        s"CAST(abs($est - $exact) <= greatest($exact * $tol, ${slack}L) AS INT)"
      a.crossJoin(b).crossJoin(ex).selectExpr(
        "CAST(exact_a AS BIGINT) AS exact_a",
        "CAST(exact_b AS BIGINT) AS exact_b",
        "CAST(exact_union AS BIGINT) AS exact_union",
        "CAST(exact_inter AS BIGINT) AS exact_inter",
        "CAST(exact_anotb AS BIGINT) AS exact_anotb",
        gate("uniqThetaEstimate(ta, ha)", "exact_a", 0.05, 10) + " AS g_a",
        gate("uniqThetaEstimate(tb, hb)", "exact_b", 0.05, 10) + " AS g_b",
        gate("uniqThetaEstimate(uniqThetaUnion(ta, ha, tb, hb).theta, uniqThetaUnion(ta, ha, tb, hb).hashes)",
          "exact_union", 0.05, 10) + " AS g_union",
        gate("uniqThetaEstimate(uniqThetaIntersect(ta, ha, tb, hb).theta, uniqThetaIntersect(ta, ha, tb, hb).hashes)",
          "exact_inter", 0.20, 20) + " AS g_inter",
        gate("uniqThetaEstimate(uniqThetaNot(ta, ha, tb, hb).theta, uniqThetaNot(ta, ha, tb, hb).hashes)",
          "exact_anotb", 0.20, 20) + " AS g_anotb",
        gate("uniqThetaEstimate(ta2, ha2)", "exact_a", 0.20, 20) + " AS g_a_256",
        gate("uniqThetaEstimate(uniqThetaUnion(ta2, ha2, tb2, hb2).theta, uniqThetaUnion(ta2, ha2, tb2, hb2).hashes)",
          "exact_union", 0.20, 20) + " AS g_union_256",
        gate("uniqThetaEstimate(uniqThetaIntersect(ta2, ha2, tb2, hb2).theta, uniqThetaIntersect(ta2, ha2, tb2, hb2).hashes)",
          "exact_inter", 0.30, 100) + " AS g_inter_256",
        gate("uniqThetaEstimate(uniqThetaNot(ta2, ha2, tb2, hb2).theta, uniqThetaNot(ta2, ha2, tb2, hb2).hashes)",
          "exact_anotb", 0.30, 100) + " AS g_anotb_256")
    }),
    "q63_datetime_h3" -> ((s, dir) => {
      t(s, dir, "orders").filter(col("o_orderkey") <= 500)
        .withColumn("ts", col("o_orderdate").cast("timestamp"))
        .withColumn("h0",
          expr("element_at(h3GetRes0Indexes(), CAST(o_orderkey % 122 AS INT) + 1)"))
        .selectExpr("o_orderkey",
          "formatDateTime(ts, '%Y-%m-%d %H:%i:%S') AS iso",
          "formatDateTime(ts, '%a %b %j') AS cal",
          "formatDateTime(ts, '%G-%V-%u') AS isoweek",
          "CAST(h3GetBaseCell(h0) AS INT) AS bc",
          "h3ToCenterChild(h0, 15) AS c15",
          "h3ToParent(h3ToCenterChild(h0, 15), 5) AS p5",
          "CAST(h3IsValid(h0) AS INT) AS valid",
          "CAST(h3IsPentagon(h0) AS INT) AS pent",
          "h3ToString(h0) AS hex")
        .orderBy(col("o_orderkey"))
    }),

    // Scalar tranche 15 end-to-end: operator-name fronts, bit ops,
    // first-match replace, URL port, alpha tokens, decimal fronts,
    // base64 round-trip, JSON string quoting — the oracle recomputes
    // every column with DuckDB natives.
    "q64_scalar_tranche15" -> ((s, dir) => {
      t(s, dir, "part").filter(col("p_partkey") <= 400)
        .selectExpr("p_partkey",
          "equals(CAST(p_size AS DOUBLE), 2D) AS eq2",
          "bitAnd(p_partkey, 255L) AS ba",
          "bitOr(p_partkey, 16L) AS bo",
          "bitXor(p_partkey, 5L) AS bx",
          "replaceOne(p_name, 'a', 'X') AS r1",
          "CAST(size(splitByAlpha(p_name)) AS INT) AS sa",
          "CAST(toDecimal64(CAST(p_retailprice AS DOUBLE), 1) AS STRING) AS dec1",
          "truncate(CAST(p_size AS DOUBLE) / 7D) AS tr",
          "round(sigmoid(CAST(p_size AS DOUBLE) / 10D), 4) AS sg",
          "mid(p_name, 2, 5) AS md",
          "FROM_BASE64(TO_BASE64(substring(p_name, 1, 8))) AS b64rt",
          "toJSONString(substring(p_name, 1, 6)) AS js",
          "port(concat('http://h:', CAST(1000 + pmod(p_partkey, 100) AS STRING), '/p')) AS pt",
          "toInt32OrDefault(concat('x', p_name), 42) AS dflt")
        .orderBy(col("p_partkey"))
    }),

    // Scalar tranche 16 end-to-end: the bitmap SQL-name fronts
    // (FunctionsBitmap.cpp) — per-returnflag supplier bitmaps for the
    // F/O linestatus slices, full set algebra + range/limit subsets.
    // The oracle recomputes everything with DuckDB list kernels.
    "q66_bitmap_scalars" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("bitmapBuild(collect_list(CASE WHEN l_linestatus = 'F' " +
            "THEN CAST(l_suppkey AS BIGINT) END))").as("bf"),
          expr("bitmapBuild(collect_list(CASE WHEN l_linestatus = 'O' " +
            "THEN CAST(l_suppkey AS BIGINT) END))").as("bo"))
        .selectExpr("l_returnflag",
          "bitmapAndCardinality(bf, bo) AS and_card",
          "bitmapOrCardinality(bf, bo) AS or_card",
          "bitmapXorCardinality(bf, bo) AS xor_card",
          "bitmapAndnotCardinality(bf, bo) AS andnot_card",
          "bitmapMin(bitmapAnd(bf, bo)) AS and_min",
          "bitmapMax(bitmapAnd(bf, bo)) AS and_max",
          "bitmapContains(bf, 50L) AS has50",
          "bitmapHasAll(bf, bitmapSubsetInRange(bf, 10L, 20L)) AS subset_ok",
          "bitmapCardinality(bitmapSubsetInRange(bf, 10L, 50L)) AS inrange_card",
          "bitmapCardinality(bitmapSubsetLimit(bf, 10L, 5L)) AS sublimit_card",
          "bitmapCardinality(subBitmap(bf, 3L, 7L)) AS sub_card")
        .orderBy(col("l_returnflag"))
    }),

    // Wide integers end-to-end (ref DataTypeFactory.cpp:270-293,
    // 01440_big_int_* tests): Int128/UInt128/Int256/UInt256 construction,
    // wraparound conversion, exact arithmetic, truncating intDiv/modulo,
    // shifts, cross-width least/greatest — and the order-preserving
    // binary encoding, proven by `ord`: Spark-native ORDER BY on the raw
    // BINARY column must equal DuckDB's numeric rank over HUGEINT.
    "q86_wide_integers" -> ((s, dir) => {
      t(s, dir, "part").filter(col("p_partkey") <= 200)
        .withColumn("wv", expr(
          "widePlus(wideMultiply(toInt128(CAST(p_partkey % 5 AS INT) - 2), " +
            "toInt128('1000000000000000000000')), toInt128(p_partkey))"))
        .withColumn("ord",
          row_number().over(Window.orderBy(col("wv"), col("p_partkey"))))
        .selectExpr("p_partkey",
          "wideToString(wideMultiply(toInt128(p_partkey), toInt128('123456789012345678901234567890'))) AS i128_mul",
          "wideToString(widePlus(toInt128(p_partkey), toInt128('-170141183460469231731687303715884105600'))) AS i128_sum",
          "wideToString(toUInt128(-1L - p_partkey)) AS u128_wrap",
          "wideToString(wideMultiply(toInt256(p_partkey), toInt256('99999999999999999999999999999999999'))) AS i256_mul",
          "wideToString(toUInt256(-1L - p_partkey)) AS u256_wrap",
          "wideToString(wideIntDiv(toInt128(0L - p_partkey * 1000003L), 7)) AS idiv",
          "wideToString(wideModulo(toInt128(0L - p_partkey * 1000003L), 7)) AS imod",
          "wideToString(wideBitShiftLeft(toInt128(1), CAST(p_partkey % 120 AS INT))) AS shl",
          "wideToString(wideGreatest(toInt128(p_partkey * 137438953471L), toInt128('13743895347100'))) AS gmax",
          "wideToString(wideLeast(toUInt128(p_partkey * 100000000000L), toUInt256('10000000000000'))) AS lmin",
          "wideToString(wideSum(toInt128(p_partkey * 1000000000000000L)) OVER ()) AS wsum",
          "ord")
        .orderBy(col("p_partkey"))
    }),

    // Decimal256 end-to-end (ref DataTypeFactory.cpp:270-293; 76-digit
    // precision past Spark's 38-digit DecimalType): exact construction
    // from strings/ints, CH scale rules (+/- max(S), * sums S, / keeps
    // Sa truncating), trimmed text form, >38-digit carries (oracle
    // rebuilds those digit-exactly by concatenation), and `dord` pins
    // the order-preserving encoding against DuckDB's numeric rank.
    "q87_decimal256" -> ((s, dir) => {
      // p >= 1: the oracle rebuilds the >38-digit columns by string
      // concatenation, which only equals the numeric text form for a
      // non-zero leading digit
      t(s, dir, "part")
        .filter(col("p_partkey") >= 1 && col("p_partkey") <= 200)
        .withColumn("dv", expr(
          "toDecimal256(CAST(CAST(p_partkey % 7 AS INT) - 3 AS STRING) || '.' " +
            "|| lpad(CAST(p_partkey AS STRING), 3, '0'), 3)"))
        .withColumn("dord",
          row_number().over(Window.orderBy(col("dv"), col("p_partkey"))))
        .selectExpr("p_partkey",
          "wideDecToString(toDecimal256(p_partkey, 7)) AS d7",
          "wideDecToString(wideDecPlus(toDecimal256(CAST(p_partkey AS STRING) || '.25', 2), " +
            "toDecimal256(p_partkey, 4))) AS dsum",
          "wideDecToString(wideDecMultiply(toDecimal256(CAST(p_partkey AS STRING) || '.5', 1), " +
            "toDecimal256('2.05', 2))) AS dmul",
          "wideDecToString(wideDecDivide(toDecimal256(CAST(0 - p_partkey AS STRING) || '.0', 1), " +
            "toDecimal256('3', 0))) AS ddiv",
          "wideDecToString(toDecimal256(CAST(p_partkey AS STRING) || repeat('0', 40) || '.5', 1)) AS dbig",
          "wideDecToString(wideDecPlus(toDecimal256(CAST(p_partkey AS STRING) || repeat('0', 40), 0), " +
            "toDecimal256(p_partkey, 0))) AS dbigsum",
          "CAST(wideDecScale(wideDecMultiply(toDecimal256('1.5', 1), toDecimal256(p_partkey, 2))) AS INT) AS dscale",
          "dord")
        .orderBy(col("p_partkey"))
    }),

    // Scalar tranche 18 end-to-end: the frequency-ranked head of the
    // §2.9 residual list. arrayJoin (the reference's row-multiplying
    // "scalar", 884 call sites in its own test corpus) explodes p_name
    // tokens; ranked enumerates, state init/finalize, decimal-overflow
    // probe, tuple utilities, plan-time introspection, wide
    // reinterpret/OrDefault tails — every column replayed exactly by
    // the DuckDB oracle.
    "q88_scalar_tranche18" -> ((s, dir) => {
      val base = t(s, dir, "part").filter(col("p_partkey") <= 300)
      base.createOrReplaceTempView("q88_probe") // for hasColumnInTable
      base.selectExpr(
        "p_partkey",
        "arrayJoin(split(p_name, ' ')) AS w",
        "arrayEnumerateUniqRanked(1, split(p_name, ' '), 1) AS occ_raw",
        "arrayEnumerateDenseRanked(1, split(p_name, ' '), 1) AS dense_raw",
        "finalizeAggregation(initializeAggregation('avgState', p_size)) AS avg1",
        "isDecimalOverflow(CAST(p_retailprice AS DECIMAL(12,2)), 5) AS ovf5",
        "getSubcolumn(named_struct('a', p_size, 'b', p_type), 'a') AS sub_a",
        "tupleToNameValuePairs(named_struct('sz', CAST(p_size AS BIGINT), 'key', p_partkey)) AS nvp_raw",
        "flattenTuple(named_struct('x', p_size, 'y', named_struct('z', p_partkey))) AS flat_raw",
        "nested(array('k','v'), array(p_partkey, p_partkey + 1), array(p_size, p_size + 1)) AS nst_raw",
        "wideToString(reinterpretAsUInt256(p_partkey)) AS reint",
        "wideToString(toInt128OrDefault(p_name, p_partkey)) AS wdflt",
        "file('/graft_no_such_file', 'dflt') AS fdflt",
        "isConstant(p_partkey) AS ic",
        "isNullable(CAST(NULL AS INT)) AS inl",
        "defaultValueOfTypeName('Int32') AS dv",
        "hasColumnInTable('default', 'q88_probe', 'p_name') AS hct",
        "indexHint(p_partkey > 0) AS ih")
        // Arrays/structs stringify for the oracle hash (q59 convention —
        // the driver's sorted-rows comparator can't hold raw array cells).
        .selectExpr(
          "p_partkey", "w",
          "array_join(transform(occ_raw, x -> CAST(x AS STRING)), ',') AS occ_all",
          "array_join(transform(dense_raw, x -> CAST(x AS STRING)), ',') AS dense_all",
          "avg1", "ovf5", "sub_a",
          "array_join(transform(nvp_raw, p -> concat(p._1, '=', CAST(p._2 AS STRING))), ',') AS nvp",
          "concat('x=', CAST(flat_raw.x AS STRING), ',y.z=', CAST(flat_raw.`y.z` AS STRING)) AS flat",
          "array_join(transform(nst_raw, r -> concat(CAST(r.k AS STRING), ':', CAST(r.v AS STRING))), ',') AS nst",
          "reint", "wdflt", "fdflt", "ic", "inl", "dv", "hct", "ih")
        .orderBy(col("p_partkey"), col("w"))
    }),

    // Scalar tranche 19 end-to-end: the layout-order running family
    // (neighbor/runningDifference/runningAccumulate — given a DEFINED
    // order here: a sorted single partition, so the DuckDB window
    // replay is exact) + approximate multi-regex (multiFuzzyMatch*,
    // the from-scratch NFA engine) with a REAL cross-engine oracle:
    // for literal patterns, fuzzy-substring match ≡ min sliding-window
    // levenshtein ≤ d, which DuckDB computes directly.
    "q90_scalar_tranche19" -> ((s, dir) => {
      t(s, dir, "part").filter(col("p_partkey") <= 100)
        .orderBy("p_partkey").coalesce(1)
        .selectExpr(
          "p_partkey",
          "neighbor(p_partkey, 1) AS nxt",
          "neighbor(p_partkey, -2, CAST(-1 AS BIGINT)) AS prv2",
          "runningDifference(p_partkey) AS rd",
          "runningDifferenceStartingWithFirstValue(CAST(p_size AS BIGINT)) AS rdf",
          "CAST(runningAccumulate(initializeAggregation('sumState', p_size)) AS BIGINT) AS racc",
          "array_join(transform(replicate(p_size, array(1, 2, 3)), x -> CAST(x AS STRING)), ',') AS repl",
          "multiFuzzyMatchAny(p_name, 1, array('chocolate', 'turquoise')) AS fz1",
          "array_join(transform(multiFuzzyMatchAllIndices(p_name, 2, array('lavender', 'metallic')), x -> CAST(x AS STRING)), ',') AS fzall")
        .orderBy(col("p_partkey"))
    }),

    // Scalar tranche 20 end-to-end: the IN-operator function family —
    // null-masked in/notIn vs never-null nullIn/notNullIn (01280
    // semantics), global* aliases, the *IgnoreSet zero-column shims —
    // plus _CAST with reference type names. nullif(p_size % 10, 4)
    // exercises the NULL-operand branch on real rows; nullable booleans
    // surface as INT 0/1/NULL on both sides (driver-stable hash).
    "q91_scalar_tranche20" -> ((s, dir) => {
      s.conf.set("graft.macros.q91", "m1") // getMacro reads the session conf
      t(s, dir, "part").filter(col("p_partkey") <= 200)
        .selectExpr(
          "p_partkey",
          "CAST(in(p_size % 10, array(1, 3, 5)) AS INT) AS in_a",
          "CAST(notIn(p_size % 10, array(1, 3, 5)) AS INT) AS notin_a",
          "CAST(in(nullif(p_size % 10, 4), array(1, 3, 5)) AS INT) AS in_nl",
          "CAST(nullIn(nullif(p_size % 10, 4), array(CAST(NULL AS INT), 1, 3, 5)) AS INT) AS nullin_a",
          "CAST(notNullIn(nullif(p_size % 10, 4), array(CAST(NULL AS INT), 1, 3, 5)) AS INT) AS notnullin_a",
          "CAST(globalIn(p_size % 10, array(2, 4)) AS INT) AS gin",
          "CAST(inIgnoreSet(nullif(p_size % 10, 4), array(1)) AS INT) AS ign",
          "CAST(nullInIgnoreSet(p_size % 10, array(1)) AS INT) AS nullign",
          "_CAST(p_size, 'String') AS cs",
          "_CAST(p_partkey % 7, 'Float64') AS cf",
          // tranche 21 (buildId stays spec-only: its value is the build)
          "validateNestedArraySizes(p_partkey % 2 = 0, array(p_size, p_size + 1), " +
            "array(p_partkey, p_partkey + 1)) AS vns",
          "CAST(globalVariable('max_allowed_packet') AS INT) AS gv",
          "globalVariable('version') AS gvv",
          "getMacro('q91') AS mac",
          "CAST(logTrace('q91 row') AS INT) AS lt")
        .orderBy(col("p_partkey"))
    }),

    // Scalar tranche 6 end-to-end: URL decomposition + IP containment
    // (ClickHouseCompat SQL functions) over deterministic synthetic
    // URLs/IPs derived from customer columns; the oracle recomputes the
    // decomposition semantics directly.
    "q53_url_ip" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("url", expr(
          "concat('https://www.shop', c_nationkey, '.example.com/seg/', " +
          "lower(c_mktsegment), '/p', c_custkey, '?q=', c_custkey % 13, '&ref=em')"))
        .withColumn("ip", expr(
          "concat('10.', c_custkey % 256, '.', c_nationkey * 10, '.', c_custkey % 250)"))
        .selectExpr(
          "domainWithoutWWW(url) AS dom",
          "isIPAddressInRange(ip, '10.128.0.0/9') AS in_hi",
          "CAST(extractURLParameter(url, 'q') AS BIGINT) AS q",
          "basename(url) AS page")
        .groupBy(col("dom"), col("in_hi"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("q_sum"),
          min(col("page")).as("first_page"))
        .orderBy(col("dom"), col("in_hi"))
    }),
    // Scalar tranche 7 end-to-end: multi-string search + split over
    // document text (ClickHouseCompat SQL functions); the oracle
    // recomputes the semantics with LIKE/least/list lambdas in DuckDB.
    "q54_multisearch" -> ((s, dir) => {
      t(s, dir, "documents")
        .selectExpr("source",
          "multiSearchAny(text, array('merge', 'window', 'stream')) AS hit",
          "multiSearchFirstPosition(text, array('merge', 'window', 'stream')) AS fp",
          "CAST(countSubstrings(text, 'ta') AS BIGINT) AS n_ta",
          "CAST(size(splitByNonAlpha(text)) AS BIGINT) AS n_tok")
        .groupBy(col("source"))
        .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"),
          sum(col("fp").cast("long")).as("fp_sum"),
          sum(col("n_ta")).as("ta_sum"),
          sum(col("n_tok")).as("tok_sum"))
        .orderBy(col("source"))
    }),
    // Type fronts end-to-end (DataTypeFactory.cpp:270-293): UUID
    // canonical string, IPv4 UInt32 round-trip, IPv6 RFC-5952 native
    // parse/format, IPv4-mapped IPv6, Enum dictionary check + code —
    // over deterministic synthetic values; the oracle recomputes each
    // front's semantics directly.
    "q55_uuid_ip_types" -> ((s, dir) => {
      import graft.functions.TypeFronts
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")
      t(s, dir, "customer")
        .withColumn("u", expr(
          "concat(lpad(lower(hex(c_custkey)), 8, '0'), '-1111-4222-8333-', " +
          "lpad(lower(hex(c_custkey * 7 + 1)), 12, '0'))"))
        .withColumn("ip4n", expr("167772160 + c_custkey % 16777216"))
        .withColumn("ip6", expr(
          "concat('2001:db8::', lower(hex(1 + c_custkey % 65535)))"))
        .select(
          expr("toUUID(u)").as("uid"),
          expr("UUIDNumToString(UUIDStringToNum(u))").as("uround"),
          expr("toIPv6OrNull(ip6)").as("ip6c"),
          expr("IPv4NumToString(ip4n)").as("ip4s"),
          expr("toIPv4(IPv4NumToString(ip4n))").as("ip4back"),
          expr("IPv4ToIPv6(ip4n)").as("ip46"),
          TypeFronts.enumCode(TypeFronts.enumCheck(col("c_mktsegment"), segs),
            segs.zipWithIndex.map { case (n, i) => n -> (i + 1) }).as("seg_code"))
        .orderBy(col("uid")).limit(100)
    }),
    // Scalar tranche 10 end-to-end: date/time long tail + regex extract +
    // case-insensitive search + XML encoding + visitParam JSON + digit /
    // gcd math over orders, aggregated by month (every function computed
    // per-row, then reduced — pure codegen'd projections, no UDF in the
    // grouping path except the gcd native).
    "q56_scalar_tranche10" -> ((s, dir) => {
      t(s, dir, "orders")
        .selectExpr(
          "CAST(dateTrunc('month', o_orderdate) AS DATE) AS mon",
          "countDigits(o_orderkey) AS digs",
          "gcd(o_orderkey, o_custkey) AS g",
          "positionCaseInsensitive(o_orderpriority, 'gent') AS ppos",
          "regexpExtract(o_orderpriority, '([A-Z]{3,})', 1) AS w",
          "encodeXMLComponent(concat(o_orderstatus, '<', o_orderpriority, '>')) AS enc",
          "visitParamExtractInt(concat('{\"k\":', o_orderkey % 100, '}'), 'k') AS jk",
          "toUnixTimestamp64Milli(o_orderdate) AS ms")
        .groupBy(col("mon"))
        .agg(count(lit(1)).as("n"),
          sum(col("digs").cast("long")).as("dig_sum"),
          sum(col("g")).as("gcd_sum"),
          sum(col("ppos").cast("long")).as("pack_sum"),
          min(col("w")).as("first_word"),
          min(col("enc")).as("first_enc"),
          sum(col("jk")).as("jk_sum"),
          max(col("ms")).as("max_ms"))
        .orderBy(col("mon")).limit(24)
    }),
    // Scalar tranche 11 end-to-end: MySQL-mode-0 calendar weeks
    // (toWeek/toYearWeek), subsequence search, substring_index — the
    // oracle recomputes mode-0 weeks from first principles and expresses
    // hasSubsequence as a %-wildcard LIKE.
    "q57_weeks_subseq" -> ((s, dir) => {
      t(s, dir, "orders")
        .selectExpr(
          "toWeek(o_orderdate) AS wk",
          "toYearWeek(o_orderdate) AS yw",
          "hasSubsequence(o_orderpriority, 'UGT') AS hs",
          "substringIndex(o_orderpriority, '-', 1) AS pri")
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n"),
          sum(col("wk").cast("long")).as("wk_sum"),
          min(col("yw")).as("yw_min"),
          max(col("yw")).as("yw_max"),
          sum(when(col("hs"), 1L).otherwise(0L)).as("hs_n"))
        .orderBy(col("pri"))
    }),
    // Hash-parity end-to-end: the value-exact ClickHouse hash surface
    // (HashParity/ChHash) evaluated through SQL; the DuckDB oracle is
    // the reference's OWN expected outputs (00678_murmurhash,
    // 00746_hashing_tuples, 00751_hashing_ints, 00803_xxhash .reference
    // files) as signed-BIGINT literals. ClickHouseCompat.install runs in
    // the Verify session, so the names resolve.
    "q58_hash_parity" -> ((s, dir) => {
      s.range(1).selectExpr(
        "cityHash64(123456) AS city_int",
        "cityHash64(1, 2, '') AS city_chain",
        "sipHash64(123456) AS sip_int",
        "sipHash64(CAST(1 AS TINYINT), CAST(2 AS TINYINT), CAST(3 AS TINYINT)) AS sip_chain",
        "halfMD5(123456) AS half_int",
        "halfMD5(CAST(1 AS TINYINT), CAST(2 AS TINYINT), CAST(3 AS TINYINT)) AS half_chain",
        "farmFingerprint64('123456') AS farm_str",
        "murmurHash2_64('foo') AS mm2_64",
        "murmurHash3_64('foo') AS mm3_64",
        "gccMurmurHash('foo') AS gcc",
        "xxHash64('foo') AS xx64_foo",
        "xxHash64('') AS xx64_empty",
        "xxHash64(CAST(1 AS TINYINT), CAST(2 AS TINYINT), CAST(3 AS TINYINT)) AS xx64_chain",
        "murmurHash2_32('foo') AS mm2_32",
        "murmurHash3_32('foo') AS mm3_32",
        "xxHash32('ABC') AS xx32",
        "hex(MD4('message digest')) AS md4_hex",
        "metroHash64(123456) AS metro_int",
        "wyHash64('qwerty') AS wy_q",
        "xxh3('ClickHouse') AS x3_ch",
        "hex(BLAKE3('The quick brown fox jumps over the lazy dog')) AS b3_hex")
    }),
    // Higher-order array functions end-to-end: the ClickHouse lambda
    // surface (arrayMap/arrayFilter/arrayCount/arrayFirst/arraySum/
    // arrayCumSum/arrayEnumerateDense) over per-order quantity arrays;
    // DuckDB mirrors every lambda with its own list_transform/
    // list_filter lambdas. Arrays stringify for a stable hash compare.
    "q59_array_hof" -> ((s, dir) => {
      def aj(e: String) =
        s"array_join(arrayMap(x -> CAST(x AS STRING), $e), ',')"
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity").cast("int"))).as("qs"))
        .filter(size(col("qs")) >= 4)
        .selectExpr(
          "l_orderkey",
          aj("arrayMap(x -> x * 2, qs)") + " AS doubled",
          aj("arrayFilter(x -> x % 2 = 1, qs)") + " AS odds",
          "CAST(arrayCount(x -> x > 25, qs) AS BIGINT) AS big_n",
          "CAST(coalesce(arrayFirst(x -> x > 25, qs), -1) AS BIGINT) AS first_big",
          "CAST(arrayFirstIndex(x -> x > 25, qs) AS BIGINT) AS first_big_i",
          "CAST(arraySum(x -> x * x, qs) AS BIGINT) AS sumsq",
          aj("arrayMap(x -> CAST(x AS INT), arrayCumSum(qs))") + " AS cums",
          aj("arrayEnumerateDense(qs)") + " AS dense")
        .orderBy(col("l_orderkey")).limit(100)
    }),

    // GROUP BY with expression keys + IN-subquery semi join.
    "q30_in_subquery" -> ((s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"))
      val li = t(s, dir, "lineitem")
      li.join(bigOrders, li("l_orderkey") === bigOrders("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("total"))
        .orderBy(col("l_returnflag"))
    }),
  )

  /** One lineitem projection per sf dir (ALTER ADD PROJECTION analog). */
  private def projDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-proj", dir)(pd => graft.operators.Projections.build(s,
      t(s, dir, "lineitem"), IndexFixtures.name("proj_lineitem", dir),
      s"file:$dir/lineitem.parquet", pd,
      groupCols = Seq("l_returnflag", "l_linestatus"),
      sumCols = Seq("l_quantity")))

  val oracles: Map[String, String] = Map(
    "q46_projection_agg" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             CAST(count(1) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q45_versioned_collapse" -> """
      SELECT CAST(count(1) AS BIGINT) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders WHERE o_orderkey % 3 <> 0""",
    "q50_limit_by_offset" -> """
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        FROM orders WHERE o_custkey <= 50)
      WHERE rn > 2 AND rn <= 4
      ORDER BY o_custkey, o_orderkey""",
    "q60_window_registry" -> """
      SELECT o_custkey, o_orderkey,
             round(percent_rank() OVER w, 4) AS pct_rank,
             round(cume_dist() OVER w, 4) AS cdist,
             round(coalesce(lag(o_totalprice, 1) OVER w, -1.0), 2) AS lag_def,
             round(coalesce(lead(o_totalprice, 1) OVER w, -1.0), 2) AS lead_def,
             round(first_value(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW), 2) AS first_p,
             round(last_value(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW), 2) AS last_p
      FROM orders WHERE o_custkey <= 100
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      ORDER BY o_custkey, o_orderkey""",
    "q61_with_fill_bounds" -> """
      WITH agg AS (
        SELECT CAST(floor(l_quantity / 5) * 5 AS BIGINT) AS qb,
               CAST(count(1) AS BIGINT) AS n
        FROM lineitem WHERE CAST(l_quantity AS INT) IN (2, 7, 22, 48)
        GROUP BY 1),
      series AS (SELECT unnest(range(15, 40, 5)) AS qb)
      SELECT coalesce(s.qb, a.qb) AS qb, coalesce(a.n, 0) AS n
      FROM series s FULL OUTER JOIN agg a ON s.qb = a.qb
      ORDER BY qb""",
    "q62_tuple_arithmetic" -> """
      WITH v AS (
        SELECT c_custkey,
               CAST(c_acctbal AS DOUBLE) AS a1, CAST(c_custkey AS DOUBLE) AS a2,
               CAST(c_nationkey * 10 AS DOUBLE) AS b1,
               CAST(c_custkey % 7 AS DOUBLE) AS b2
        FROM customer WHERE c_custkey <= 100)
      SELECT c_custkey,
             round(a1 * b1 + a2 * b2, 4) AS dot,
             round(abs(a1 - b1) + abs(a2 - b2), 4) AS d1,
             round(sqrt((a1 - b1) * (a1 - b1) + (a2 - b2) * (a2 - b2)), 4) AS d2,
             round(greatest(abs(a1 - b1), abs(a2 - b2)), 4) AS dinf,
             round(pow(pow(abs(a1 - b1), 3) + pow(abs(a2 - b2), 3), 1.0 / 3), 4) AS d3,
             round(sqrt((a1 + b1) * (a1 + b1) + (a2 + b2) * (a2 + b2)), 4) AS n2,
             CAST((CASE WHEN a1 = b1 THEN 0 ELSE 1 END) +
                  (CASE WHEN a2 = b2 THEN 0 ELSE 1 END) AS INT) AS hd
      FROM v ORDER BY c_custkey""",
    "q66_bitmap_scalars" -> """
      WITH g AS (
        SELECT l_returnflag,
               list_sort(list_distinct(list(CAST(l_suppkey AS BIGINT))
                 FILTER (WHERE l_linestatus = 'F'))) AS bf,
               list_sort(list_distinct(list(CAST(l_suppkey AS BIGINT))
                 FILTER (WHERE l_linestatus = 'O'))) AS bo
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag,
             CAST(len(list_intersect(bf, bo)) AS BIGINT) AS and_card,
             CAST(len(list_distinct(list_concat(bf, bo))) AS BIGINT) AS or_card,
             CAST(len(list_distinct(list_concat(bf, bo)))
                  - len(list_intersect(bf, bo)) AS BIGINT) AS xor_card,
             CAST(len(list_filter(bf, x -> NOT list_contains(bo, x))) AS BIGINT)
               AS andnot_card,
             coalesce(list_min(list_intersect(bf, bo)), 0) AS and_min,
             coalesce(list_max(list_intersect(bf, bo)), 4294967295) AS and_max,
             list_contains(bf, 50) AS has50,
             true AS subset_ok,
             CAST(len(list_filter(bf, x -> x >= 10 AND x < 50)) AS BIGINT)
               AS inrange_card,
             CAST(least(5, len(list_filter(bf, x -> x >= 10))) AS BIGINT)
               AS sublimit_card,
             CAST(least(7, greatest(0, len(bf) - 3)) AS BIGINT) AS sub_card
      FROM g ORDER BY l_returnflag""",
    // q86 oracle: DuckDB HUGEINT (int128) recomputes every Int128 value
    // exactly; UInt128 wraps are (2^128-1) - n in UHUGEINT; the UInt256
    // wrap (2^256-1-n) exceeds HUGEINT so it is rebuilt digit-exactly by
    // string concatenation (no borrow past the last 3 digits for n<=935);
    // `ord` re-ranks numerically over HUGEINT, pinning the engine's
    // order-preserving binary encoding.
    "q86_wide_integers" -> """
      SELECT p_partkey,
             CAST(p_partkey::HUGEINT * '123456789012345678901234567890'::HUGEINT AS VARCHAR) AS i128_mul,
             CAST(p_partkey::HUGEINT + ('-170141183460469231731687303715884105600'::HUGEINT) AS VARCHAR) AS i128_sum,
             CAST('340282366920938463463374607431768211455'::UHUGEINT - p_partkey::UHUGEINT AS VARCHAR) AS u128_wrap,
             CAST(p_partkey::HUGEINT * '99999999999999999999999999999999999'::HUGEINT AS VARCHAR) AS i256_mul,
             CONCAT('115792089237316195423570985008687907853269984665640564039457584007913129639',
                    LPAD(CAST(935 - p_partkey AS VARCHAR), 3, '0')) AS u256_wrap,
             CAST(((0 - p_partkey * 1000003)::HUGEINT) // (7::HUGEINT) AS VARCHAR) AS idiv,
             CAST(((0 - p_partkey * 1000003)::HUGEINT) % (7::HUGEINT) AS VARCHAR) AS imod,
             CAST((1::HUGEINT << (p_partkey % 120)) AS VARCHAR) AS shl,
             CAST(greatest(p_partkey::HUGEINT * 137438953471::HUGEINT, 13743895347100::HUGEINT) AS VARCHAR) AS gmax,
             CAST(least(p_partkey::HUGEINT * 100000000000::HUGEINT, 10000000000000::HUGEINT) AS VARCHAR) AS lmin,
             CAST(sum(p_partkey::HUGEINT * 1000000000000000::HUGEINT) OVER () AS VARCHAR) AS wsum,
             CAST(row_number() OVER (ORDER BY
               (p_partkey % 5 - 2)::HUGEINT * '1000000000000000000000'::HUGEINT
                 + p_partkey::HUGEINT, p_partkey) AS INT) AS ord
      FROM part WHERE p_partkey <= 200
      ORDER BY p_partkey""",
    // q87 oracle: in-range decimals recomputed with DuckDB DECIMAL and
    // trimmed to the engine's CH text form (rtrim of fractional zeros is
    // safe — DuckDB always prints a '.' at scale > 0); the truncating
    // division is replayed in integer space with `//` (trunc toward
    // zero); >38-digit values are rebuilt digit-exactly by string
    // concatenation (no carry: p <= 999 against 40 zeros).
    "q87_decimal256" -> """
      WITH v AS (
        SELECT p_partkey,
               ((0 - p_partkey * 10) // 3) AS dv10
        FROM part WHERE p_partkey >= 1 AND p_partkey <= 200)
      SELECT p_partkey,
             CAST(p_partkey AS VARCHAR) AS d7,
             rtrim(rtrim(CAST(CAST(CAST(p_partkey AS VARCHAR) || '.25' AS DECIMAL(18,2))
                   + CAST(p_partkey AS DECIMAL(18,4)) AS VARCHAR), '0'), '.') AS dsum,
             rtrim(rtrim(CAST(CAST(CAST(p_partkey AS VARCHAR) || '.5' AS DECIMAL(18,1))
                   * CAST('2.05' AS DECIMAL(3,2)) AS VARCHAR), '0'), '.') AS dmul,
             (CASE WHEN dv10 < 0 THEN '-' ELSE '' END)
               || CAST(abs(dv10) // 10 AS VARCHAR)
               || (CASE WHEN abs(dv10) % 10 = 0 THEN ''
                        ELSE '.' || CAST(abs(dv10) % 10 AS VARCHAR) END) AS ddiv,
             CAST(p_partkey AS VARCHAR) || repeat('0', 40) || '.5' AS dbig,
             CAST(p_partkey AS VARCHAR) || repeat('0', 37)
               || lpad(CAST(p_partkey AS VARCHAR), 3, '0') AS dbigsum,
             CAST(3 AS INT) AS dscale,
             CAST(row_number() OVER (ORDER BY
               CAST(CAST(p_partkey % 7 - 3 AS VARCHAR) || '.'
                    || lpad(CAST(p_partkey AS VARCHAR), 3, '0') AS DECIMAL(10,3)),
               p_partkey) AS INT) AS dord
      FROM v
      ORDER BY p_partkey""",
    "q64_scalar_tranche15" -> """
      SELECT p_partkey,
             CAST(p_size AS DOUBLE) = 2 AS eq2,
             p_partkey & 255 AS ba,
             p_partkey | 16 AS bo,
             xor(p_partkey, 5) AS bx,
             regexp_replace(p_name, 'a', 'X') AS r1,
             CAST(len(regexp_extract_all(p_name, '[A-Za-z]+')) AS INT) AS sa,
             CAST(CAST(floor(CAST(p_retailprice AS DOUBLE) * 10 + 0.5) / 10
                  AS DECIMAL(18,6)) AS VARCHAR) AS dec1,
             trunc(CAST(p_size AS DOUBLE) / 7) AS tr,
             round(1 / (1 + exp(-CAST(p_size AS DOUBLE) / 10)), 4) AS sg,
             substring(p_name, 2, 5) AS md,
             substring(p_name, 1, 8) AS b64rt,
             CAST(to_json(substring(p_name, 1, 6)) AS VARCHAR) AS js,
             CAST(1000 + p_partkey % 100 AS INT) AS pt,
             CAST(42 AS INT) AS dflt
      FROM part WHERE p_partkey <= 400
      ORDER BY p_partkey""",
    // q88 oracle: arrayJoin = unnest; occurrence index = count of equal
    // tokens in the inclusive prefix; state init+finalize of a single
    // value collapses arithmetically; struct field names mirror the
    // engine's tuple-utility conventions (_1/_2 pairs, dotted flatten
    // paths).
    "q88_scalar_tranche18" -> """
      WITH p AS (SELECT * FROM part WHERE p_partkey <= 300),
      t AS (SELECT p_partkey, p_size, p_retailprice, p_type, p_name,
                   string_split(p_name, ' ') AS toks FROM p)
      SELECT p_partkey,
             unnest(toks) AS w,
             array_to_string(list_transform(range(1, len(toks) + 1),
               i -> CAST(len(list_filter(toks[1:i], x -> x = toks[i])) AS VARCHAR)),
               ',') AS occ_all,
             array_to_string(list_transform(range(1, len(toks) + 1),
               i -> CAST(len(list_distinct(
                 toks[1:list_position(toks, toks[i])])) AS VARCHAR)), ',') AS dense_all,
             CAST(p_size AS DOUBLE) AS avg1,
             length(CAST(CAST(round(p_retailprice * 100, 0) AS BIGINT)
               AS VARCHAR)) > 5 AS ovf5,
             p_size AS sub_a,
             'sz=' || CAST(p_size AS VARCHAR) || ',key='
               || CAST(p_partkey AS VARCHAR) AS nvp,
             'x=' || CAST(p_size AS VARCHAR) || ',y.z='
               || CAST(p_partkey AS VARCHAR) AS flat,
             CAST(p_partkey AS VARCHAR) || ':' || CAST(p_size AS VARCHAR)
               || ',' || CAST(p_partkey + 1 AS VARCHAR) || ':'
               || CAST(p_size + 1 AS VARCHAR) AS nst,
             CAST(p_partkey AS VARCHAR) AS reint,
             CAST(p_partkey AS VARCHAR) AS wdflt,
             'dflt' AS fdflt,
             CAST(0 AS SMALLINT) AS ic,
             CAST(1 AS SMALLINT) AS inl,
             CAST(0 AS INT) AS dv,
             CAST(1 AS SMALLINT) AS hct,
             true AS ih
      FROM t ORDER BY p_partkey, w""",
    // q69 oracle: the expected instant per format branch, computed
    // arithmetically — date-only formats land on midnight, the RFC-2822
    // +0330 zone subtracts 3h30m, unix seconds round-trip exactly.
    "q69_datetime_parse" -> """
      WITH o AS (
        SELECT o_orderkey,
               CAST(o_orderdate AS TIMESTAMP)
                 + (o_orderkey % 86399) * INTERVAL 1 SECOND AS base,
               CAST(o_orderkey % 6 AS INT) AS fmt
        FROM orders WHERE o_orderkey <= 3000)
      SELECT o_orderkey, fmt,
             CASE fmt
               WHEN 0 THEN strftime(base, '%Y-%m-%d %H:%M:%S')
               WHEN 1 THEN strftime(base, '%d/%m/%Y')
               WHEN 2 THEN strftime(base, '%Y%m%d%H%M%S')
               WHEN 3 THEN 'Mon, ' || strftime(base, '%d %b %Y %H:%M:%S') || ' +0330'
               WHEN 4 THEN CAST(CAST(epoch(base) AS BIGINT) AS VARCHAR)
               ELSE strftime(base, '%d-%b-%y')
             END AS s,
             CASE fmt
               WHEN 0 THEN base
               WHEN 1 THEN date_trunc('day', base)
               WHEN 2 THEN base
               WHEN 3 THEN base - INTERVAL 3 HOUR - INTERVAL 30 MINUTE
               WHEN 4 THEN base
               ELSE date_trunc('day', base)
             END AS parsed,
             CAST(NULL AS TIMESTAMP) AS bad_null,
             base AS parsed_us
      FROM o ORDER BY o_orderkey""",
    // q68 oracle: the dictionary semantics replayed with plain joins —
    // typed getters are key→attribute lookups, OrDefault covers the
    // guaranteed-missing custkey*1000 keys, the hierarchy chain is
    // nation→region→root (length 2), and children/descendants of a
    // region node count its nations.
    "q68_dictionary" -> """
      SELECT c.c_custkey,
             n.n_name AS nat_name,
             CAST(n.n_regionkey AS BIGINT) AS region_key,
             'none' AS missing_name,
             CAST(99 AS BIGINT) AS missing_region,
             n.n_name AS name_or_null,
             CAST(1 AS INT) AS has_key,
             CAST(2 AS INT) AS hier_len,
             CAST(CASE WHEN n.n_regionkey = c.c_custkey % 5 THEN 1 ELSE 0 END AS INT) AS in_region,
             CAST((SELECT count(1) FROM nation n2
                   WHERE n2.n_regionkey = c.c_custkey % 5) AS INT) AS region_nations,
             CAST((SELECT count(1) FROM nation n2
                   WHERE n2.n_regionkey = c.c_custkey % 5) AS INT) AS region_desc
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE c.c_custkey <= 200
      ORDER BY c.c_custkey""",
    // q67 oracle: the reference's own published outputs for these inputs —
    // golden indexes + 3-dp centers from 01906_h3_to_geo, ring sizes and
    // element checksums (sum mod 1e9+7) of the golden ring arrays in
    // 01042_h3_k_ring / 02293_h3_hex_ring (the res-0 index has no hexRing
    // row in the reference fixture → NULLs).
    "q67_h3_geometry" -> """
      SELECT * FROM (VALUES
        (1, 579205133326352383, -173.641, -14.13, 7, 69462309, CAST(NULL AS INT), CAST(NULL AS BIGINT), 6, -25.6, -170.62, 1, 1),
        (2, 581263419093549055, 59.481, 58.02, 19, 643202062, 12, 729273611, 6, 57.16, 51.15, 1, 1),
        (3, 589753847883235327, 172.681, -83.658, 37, 129480388, 18, 677492126, 6, -82.25, 167.18, 1, 1),
        (4, 594082350283882495, -94.466, -69.2, 61, 462124737, 24, 800203817, 6, -69.7, -95.63, 1, 1),
        (5, 598372386957426687, -8.188, -55.856, 91, 634929245, 30, 138318640, 6, -55.65, -8.35, 1, 1),
        (6, 599542359671177215, 77.256, 47.393, 127, 993551371, 36, 906759170, 6, 47.4, 77.11, 1, 1),
        (7, 604296355086598143, 135.113, 36.608, 169, 485697270, 42, 264425979, 6, 36.59, 135.14, 1, 1),
        (8, 608785214872748031, 39.285, 49.077, 217, 216532937, 48, 367015236, 6, 49.07, 39.27, 1, 1),
        (9, 615732192485572607, 124.712, -27.481, 271, 73882111, 54, 9405590, 6, -27.48, 124.71, 1, 1),
        (10, 617056794467368959, -147.489, 76.732, 331, 83900459, 60, 958367127, 6, 76.73, -147.49, 1, 1),
        (11, 624586477873168383, 86.633, -25.525, 397, 647739649, 66, 97979590, 6, -25.52, 86.63, 1, 1),
        (12, 627882919484481535, 23.278, 13.126, 469, 858261364, 72, 298227352, 6, 13.13, 23.28, 1, 1),
        (13, 634600058503392255, -70.402, -63.126, 547, 725461505, 78, 914256874, 6, -63.13, -70.4, 1, 1),
        (14, 635544851677385791, 15.642, 40.286, 631, 177719818, 84, 185695923, 6, 40.29, 15.64, 1, 1),
        (15, 639763125756281263, -76.534, 54.556, 721, 408355152, 90, 17704209, 6, 54.56, -76.53, 1, 1),
        (16, 644178757620501158, 8.199, 67.694, 817, 891025928, 96, 680191964, 6, 67.69, 8.2, 1, 1)
      ) AS t(id, h, lon_c, lat_c, kring_n, kring_sum, hexring_n, hexring_sum,
             bnd_n, bnd0_lat, bnd0_lon, edge_valid, edge_dest_in_ring)
      ORDER BY id""",
    // q71 oracle: rectangle algebra recomputed analytically; the spherical
    // columns replay the exact great-circle formulas (Van Oosterom–Strackee
    // triangle fan for area; haversine for lengths) over the same grid.
    "q71_polygon_algebra" -> """
      WITH g AS (
        SELECT t1.i AS i, t2.j AS j,
          CAST(t1.i % 5 AS DOUBLE) AS ax0, CAST(t1.i // 5 AS DOUBLE) AS ay0,
          CAST(t1.i % 5 + 2 + t1.i % 3 AS DOUBLE) AS ax1,
          CAST(t1.i // 5 + 1 + t1.i % 4 AS DOUBLE) AS ay1,
          CAST(t2.j % 5 AS DOUBLE) AS bx0, CAST(t2.j // 5 AS DOUBLE) AS by0,
          CAST(t2.j % 5 + 2 + t2.j % 3 AS DOUBLE) AS bx1,
          CAST(t2.j // 5 + 1 + t2.j % 4 AS DOUBLE) AS by1
        FROM generate_series(0, 24) t1(i), generate_series(0, 24) t2(j)),
      m AS (
        SELECT *,
          GREATEST(0, LEAST(ax1, bx1) - GREATEST(ax0, bx0)) AS iw,
          GREATEST(0, LEAST(ay1, by1) - GREATEST(ay0, by0)) AS ih,
          (ax1 - ax0) * (ay1 - ay0) AS aa,
          (bx1 - bx0) * (by1 - by0) AS ab
        FROM g),
      u AS (
        SELECT *,
          cos(radians(ay0))*cos(radians(ax0)) AS p0x, cos(radians(ay0))*sin(radians(ax0)) AS p0y, sin(radians(ay0)) AS p0z,
          cos(radians(ay1))*cos(radians(ax0)) AS p1x, cos(radians(ay1))*sin(radians(ax0)) AS p1y, sin(radians(ay1)) AS p1z,
          cos(radians(ay1))*cos(radians(ax1)) AS p2x, cos(radians(ay1))*sin(radians(ax1)) AS p2y, sin(radians(ay1)) AS p2z,
          cos(radians(ay0))*cos(radians(ax1)) AS p3x, cos(radians(ay0))*sin(radians(ax1)) AS p3y, sin(radians(ay0)) AS p3z
        FROM m)
      SELECT i, j,
        aa AS area_a,
        2 * ((ax1 - ax0) + (ay1 - ay0)) AS perim_a,
        CASE WHEN iw > 0 AND ih > 0 THEN iw * ih ELSE NULL END AS inter_area,
        aa + ab - CASE WHEN iw > 0 AND ih > 0 THEN iw * ih ELSE 0 END AS union_area,
        CASE WHEN ax0 = bx0 AND ay0 = by0 AND ax1 = bx1 AND ay1 = by1 THEN NULL
             ELSE aa + ab - 2 * (CASE WHEN iw > 0 AND ih > 0 THEN iw * ih ELSE 0 END)
        END AS symdiff_area,
        CAST(CASE WHEN ax0 >= bx0 AND ax1 <= bx1 AND ay0 >= by0 AND ay1 <= by1 THEN 1 ELSE 0 END AS INT) AS within_ab,
        CAST(CASE WHEN ax0 = bx0 AND ay0 = by0 AND ax1 = bx1 AND ay1 = by1 THEN 1 ELSE 0 END AS INT) AS eq_ab,
        round(sqrt(pow(GREATEST(0, bx0 - ax1, ax0 - bx1), 2)
                 + pow(GREATEST(0, by0 - ay1, ay0 - by1), 2)), 9) AS dist_ab,
        aa AS hull_area,
        CAST(CASE WHEN iw > 0 AND ih > 0 THEN 1 ELSE 0 END AS INT) AS inter_n,
        round(abs(
            2 * atan2(p0x*(p1y*p2z - p1z*p2y) + p0y*(p1z*p2x - p1x*p2z) + p0z*(p1x*p2y - p1y*p2x),
                      1 + (p0x*p1x + p0y*p1y + p0z*p1z) + (p1x*p2x + p1y*p2y + p1z*p2z) + (p2x*p0x + p2y*p0y + p2z*p0z))
          + 2 * atan2(p0x*(p2y*p3z - p2z*p3y) + p0y*(p2z*p3x - p2x*p3z) + p0z*(p2x*p3y - p2y*p3x),
                      1 + (p0x*p2x + p0y*p2y + p0z*p2z) + (p2x*p3x + p2y*p3y + p2z*p3z) + (p3x*p0x + p3y*p0y + p3z*p0z))
          ), 9) AS area_sph,
        round(
            2 * asin(sqrt(pow(sin(radians(ay1 - ay0) / 2), 2)))
          + 2 * asin(sqrt(pow(sin(radians(ay1 - ay1) / 2), 2) + cos(radians(ay1)) * cos(radians(ay1)) * pow(sin(radians(ax1 - ax0) / 2), 2)))
          + 2 * asin(sqrt(pow(sin(radians(ay0 - ay1) / 2), 2)))
          + 2 * asin(sqrt(pow(sin(radians(ay0 - ay0) / 2), 2) + cos(radians(ay0)) * cos(radians(ay0)) * pow(sin(radians(ax0 - ax1) / 2), 2)))
          , 9) AS perim_sph,
        round(2 * asin(sqrt(pow(sin(radians((by1 + 30) - ay0) / 2), 2)
          + cos(radians(ay0)) * cos(radians(by1 + 30)) * pow(sin(radians((bx1 + 20) - ax0) / 2), 2))), 9) AS dist_sph
      FROM u
      ORDER BY i, j""",
    // q72 oracle: containment recomputed analytically per 01037 shape
    // (all probe points sit at .25/.75 fractions, never on a boundary, so
    // open/closed edges are equivalent); ties resolved smallest-area
    // first: North/West (4) < East/South (6) < Click (40) < House (80).
    "q72_spatial_join" -> """
      WITH p AS (
        SELECT i AS id,
               CAST(i % 40 AS DOUBLE) * 0.5 - 10 + 0.25 AS x,
               CAST(i // 40 AS DOUBLE) * 0.5 - 10 + 0.25 AS y
        FROM generate_series(0, 1599) t(i)),
      c AS (
        SELECT *,
          (abs(x) < 3 AND abs(y) < 1) OR (abs(x) < 1 AND abs(y) < 3) AS in_cross,
          (x > 5 AND x < 7 AND y > 1 AND y < 7) OR (x > 1 AND x < 7 AND y > 5 AND y < 7) AS in_l
        FROM p),
      named AS (
        SELECT id, x, y,
          CASE
            WHEN x > -1 AND x < 1 AND y > 1 AND y < 3 THEN 'Click North'
            WHEN x > -1 AND x < 1 AND y > -3 AND y < -1 THEN 'Click West'
            WHEN x > 0 AND x < 3 AND y > -1 AND y < 1 THEN 'Click East'
            WHEN x > -3 AND x < 0 AND y > -1 AND y < 1 THEN 'Click South'
            WHEN in_cross OR in_l THEN 'Click'
            WHEN abs(x) < 5 AND abs(y) < 5 AND NOT in_cross THEN 'House'
          END AS name,
          CASE
            WHEN x > -1 AND x < 1 AND y > 1 AND y < 3 THEN 422
            WHEN x > -1 AND x < 1 AND y > -3 AND y < -1 THEN 424
            WHEN x > 0 AND x < 3 AND y > -1 AND y < 1 THEN 421
            WHEN x > -3 AND x < 0 AND y > -1 AND y < 1 THEN 423
            WHEN in_cross OR in_l THEN 42
            WHEN abs(x) < 5 AND abs(y) < 5 AND NOT in_cross THEN 314159
          END AS value
        FROM c)
      SELECT name, CAST(value AS BIGINT) AS value,
             CAST(count(1) AS BIGINT) AS cnt,
             CAST(sum(id) AS BIGINT) AS sum_id,
             round(sum(x + y), 6) AS sum_xy,
             CAST(count(1) AS BIGINT) AS dict_agree
      FROM named WHERE name IS NOT NULL
      GROUP BY name, value
      ORDER BY name""",
    // q75 oracle: exact cohort set algebra; the sketch gates are verified
    // claims (estimate within the published KMV error envelope) so the
    // oracle asserts them as 1.
    "q75_theta_sketch" -> """
      WITH f AS (
        SELECT l_partkey,
               max(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS ina,
               max(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS inb
        FROM lineitem GROUP BY l_partkey)
      SELECT CAST(sum(ina) AS BIGINT) AS exact_a,
             CAST(sum(inb) AS BIGINT) AS exact_b,
             CAST(count(1) AS BIGINT) AS exact_union,
             CAST(sum(ina * inb) AS BIGINT) AS exact_inter,
             CAST(sum(ina * (1 - inb)) AS BIGINT) AS exact_anotb,
             CAST(1 AS INT) AS g_a, CAST(1 AS INT) AS g_b,
             CAST(1 AS INT) AS g_union, CAST(1 AS INT) AS g_inter,
             CAST(1 AS INT) AS g_anotb,
             CAST(1 AS INT) AS g_a_256, CAST(1 AS INT) AS g_union_256,
             CAST(1 AS INT) AS g_inter_256, CAST(1 AS INT) AS g_anotb_256
      FROM f""",
    "q73_salted_join" -> """
      SELECT concat('grp_', CAST(l_orderkey % 3 AS VARCHAR)) AS grp,
             CAST(count(1) AS BIGINT) AS cnt,
             CAST(round(sum(l_quantity), 2) AS DOUBLE) AS qty
      FROM lineitem
      GROUP BY 1
      ORDER BY grp""",
    "q81_join_storage" -> """
      SELECT n.n_name AS nation,
             CAST(count(1) AS BIGINT) AS cnt,
             CAST(NULL AS VARCHAR) AS missing
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE c.c_nationkey % 2 = 0
      GROUP BY nation
      ORDER BY nation""",
    // q90 oracle: running family = lag/lead/sum windows over p_partkey
    // (the engine's layout order IS p_partkey order — sorted single
    // partition); fuzzy-literal match = min sliding-window levenshtein
    // over window lengths |pattern| ± d.
    "q90_scalar_tranche19" -> """
      WITH p AS (SELECT p_partkey, p_name, p_size FROM part
                 WHERE p_partkey <= 100),
      fz AS (SELECT p_partkey, p_name, p_size,
               list_min(flatten(list_transform(range(1, length(p_name) + 2),
                 i -> list_transform([8, 9, 10],
                   L -> levenshtein(substr(p_name, CAST(i AS INT), L), 'chocolate'))))) AS d_choc,
               list_min(flatten(list_transform(range(1, length(p_name) + 2),
                 i -> list_transform([8, 9, 10],
                   L -> levenshtein(substr(p_name, CAST(i AS INT), L), 'turquoise'))))) AS d_turq,
               list_min(flatten(list_transform(range(1, length(p_name) + 2),
                 i -> list_transform([6, 7, 8, 9, 10],
                   L -> levenshtein(substr(p_name, CAST(i AS INT), L), 'lavender'))))) AS d_lav,
               list_min(flatten(list_transform(range(1, length(p_name) + 2),
                 i -> list_transform([6, 7, 8, 9, 10],
                   L -> levenshtein(substr(p_name, CAST(i AS INT), L), 'metallic'))))) AS d_met
             FROM p)
      SELECT p_partkey,
             coalesce(lead(p_partkey, 1) OVER w, 0) AS nxt,
             coalesce(lag(p_partkey, 2) OVER w, -1) AS prv2,
             coalesce(p_partkey - lag(p_partkey, 1) OVER w, 0) AS rd,
             CAST(coalesce(p_size - lag(p_size, 1) OVER w, p_size) AS BIGINT) AS rdf,
             CAST(sum(p_size) OVER (ORDER BY p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS racc,
             array_to_string([p_size, p_size, p_size], ',') AS repl,
             (d_choc <= 1 OR d_turq <= 1) AS fz1,
             coalesce(array_to_string(list_filter(
                          [CASE WHEN d_lav <= 2 THEN 1 ELSE 0 END,
                           CASE WHEN d_met <= 2 THEN 2 ELSE 0 END],
                          x -> x > 0), ','), '') AS fzall
      FROM fz
      WINDOW w AS (ORDER BY p_partkey)
      ORDER BY p_partkey""",
    // q91 oracle: IN-family semantics replayed with SQL three-valued
    // logic — plain in/notIn inherit NULL-masking from SQL IN over a
    // null-free set; nullIn branches on IS NULL (a NULL element in the
    // engine's set only matters for a NULL operand); *IgnoreSet is the
    // zero column with the null-skipped forms NULL-masked.
    "q91_scalar_tranche20" -> """
      WITH p AS (SELECT p_partkey, p_size, nullif(p_size % 10, 4) AS x
                 FROM part WHERE p_partkey <= 200)
      SELECT p_partkey,
             CAST((p_size % 10) IN (1, 3, 5) AS INT) AS in_a,
             CAST((p_size % 10) NOT IN (1, 3, 5) AS INT) AS notin_a,
             CAST(x IN (1, 3, 5) AS INT) AS in_nl,
             CAST(CASE WHEN x IS NULL THEN TRUE
                       ELSE coalesce(x IN (1, 3, 5), FALSE) END AS INT) AS nullin_a,
             CAST(NOT CASE WHEN x IS NULL THEN TRUE
                       ELSE coalesce(x IN (1, 3, 5), FALSE) END AS INT) AS notnullin_a,
             CAST((p_size % 10) IN (2, 4) AS INT) AS gin,
             CAST(CASE WHEN x IS NULL THEN NULL ELSE FALSE END AS INT) AS ign,
             CAST(FALSE AS INT) AS nullign,
             CAST(p_size AS VARCHAR) AS cs,
             CAST(p_partkey % 7 AS DOUBLE) AS cf,
             TRUE AS vns,
             CAST(67108864 AS INT) AS gv,
             '5.7.30' AS gvv,
             'm1' AS mac,
             CAST(0 AS INT) AS lt
      FROM p ORDER BY p_partkey""",
    "q89_system_catalog" -> """
      SELECT * FROM (VALUES
        ('', 'db:default', 'Atomic', false,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
        ('', 'q89_nation_view', 'View', true,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
        ('', 'q89_region_view', 'View', true,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)))
        AS t(database, name, engine, is_temporary, total_rows, total_bytes)
      ORDER BY name""",
    "q92_system_columns" -> """
      SELECT * FROM (VALUES
        ('', 'q92_region_view', 'r_regionkey', 'INT', 1, '', ''),
        ('', 'q92_region_view', 'r_name', 'STRING', 2, '', ''),
        ('', 'q92_typed_view', 'a', 'BIGINT', 1, '', ''),
        ('', 'q92_typed_view', 'b', 'DOUBLE', 2, '', ''),
        ('', 'q92_typed_view', 'c', 'STRING', 3, '', ''))
        AS t(database, "table", name, type, position, default_kind, default_expression)
      ORDER BY "table", position""",
    "q74_system_parts" -> """
      SELECT CAST(count(1) AS BIGINT) AS nrows,
             CAST(min(l_orderkey) AS BIGINT) AS min_ok,
             CAST(max(l_orderkey) AS BIGINT) AS max_ok
      FROM lineitem""",
    "q63_datetime_h3" -> """
      WITH o AS (
        SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS ts,
               CAST(o_orderkey % 122 AS BIGINT) AS bc
        FROM orders WHERE o_orderkey <= 500),
      h AS (
        SELECT o_orderkey, ts, bc,
               576460752303423488 + bc * 35184372088832 + 35184372088831 AS h0
        FROM o)
      SELECT o_orderkey,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso,
             strftime(ts, '%a %b %j') AS cal,
             strftime(ts, '%G-%V-%u') AS isoweek,
             CAST(bc AS INT) AS bc,
             576460752303423488 + 15 * 4503599627370496 + bc * 35184372088832 AS c15,
             576460752303423488 + 5 * 4503599627370496 + bc * 35184372088832
               + 1073741823 AS p5,
             CAST(1 AS INT) AS valid,
             CAST(CASE WHEN bc IN (4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)
               THEN 1 ELSE 0 END AS INT) AS pent,
             printf('%x', h0) AS hex
      FROM h ORDER BY o_orderkey""",
    "q51_with_fill_step" -> """
      WITH buckets AS (SELECT unnest(range(0, 65, 5)) AS qb),
      agg AS (
        SELECT CAST(floor(l_quantity / 5) * 5 AS BIGINT) AS qb,
               CAST(count(1) AS BIGINT) AS n
        FROM lineitem GROUP BY 1)
      SELECT b.qb, coalesce(a.n, 0) AS n
      FROM buckets b LEFT JOIN agg a USING (qb)
      ORDER BY b.qb""",
    "q55_uuid_ip_types" -> """
      WITH c AS (
        SELECT printf('%08x', c_custkey) || '-1111-4222-8333-' ||
                 printf('%012x', c_custkey * 7 + 1) AS uid,
               167772160 + c_custkey % 16777216 AS ip4n,
               '2001:db8::' || printf('%x', 1 + c_custkey % 65535) AS ip6c,
               CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 1 WHEN 'BUILDING' THEN 2
                 WHEN 'FURNITURE' THEN 3 WHEN 'HOUSEHOLD' THEN 4
                 WHEN 'MACHINERY' THEN 5 END AS seg_code
        FROM customer)
      SELECT uid, uid AS uround, ip6c,
             printf('%d.%d.%d.%d', ip4n // 16777216 % 256, ip4n // 65536 % 256,
               ip4n // 256 % 256, ip4n % 256) AS ip4s,
             CAST(ip4n AS BIGINT) AS ip4back,
             '::ffff:' || printf('%d.%d.%d.%d', ip4n // 16777216 % 256,
               ip4n // 65536 % 256, ip4n // 256 % 256, ip4n % 256) AS ip46,
             CAST(seg_code AS INT) AS seg_code
      FROM c ORDER BY uid LIMIT 100""",
    // Reference expected outputs (tests/queries/0_stateless/
    // 00678/00746/00751/00803 .reference) as signed two's-complement
    // BIGINT literals — value-exactness is the whole point.
    "q58_hash_parity" -> """
      SELECT CAST(-5067632665394241483 AS BIGINT) AS city_int,
             CAST(3151614220437955012 AS BIGINT) AS city_chain,
             CAST(-6728778887698311270 AS BIGINT) AS sip_int,
             CAST(-5505958280149656357 AS BIGINT) AS sip_chain,
             CAST(1452224150530656417 AS BIGINT) AS half_int,
             CAST(955237314186186656 AS BIGINT) AS half_chain,
             CAST(7773179648686038998 AS BIGINT) AS farm_str,
             CAST(-3612388048407209215 AS BIGINT) AS mm2_64,
             CAST(-7143270089942419226 AS BIGINT) AS mm3_64,
             CAST(-8815544250789716390 AS BIGINT) AS gcc,
             CAST(3728699739546630719 AS BIGINT) AS xx64_foo,
             CAST(-1205034819632174695 AS BIGINT) AS xx64_empty,
             CAST(-4718000591466899914 AS BIGINT) AS xx64_chain,
             CAST(2414502773 AS BIGINT) AS mm2_32,
             CAST(4138058784 AS BIGINT) AS mm3_32,
             CAST(2154901205 AS BIGINT) AS xx32,
             upper('d9130a8164549fe818874806e1c7014b') AS md4_hex,
             CAST(-5067632665394241483 AS BIGINT) AS metro_int,
             CAST(-7884841976753629594 AS BIGINT) AS wy_q,
             CAST(-437425199370926807 AS BIGINT) AS x3_ch,
             upper('2f1514181aadccd913abd94cfa592701a5686ab23f8df1dff1b74710febc6d4a') AS b3_hex""",
    // DuckDB's own list lambdas mirror each higher-order call; qs is
    // sorted so arrayEnumerateDense's first-appearance order equals
    // ascending-distinct order on both engines.
    "q59_array_hof" -> """
      WITH g AS (
        SELECT l_orderkey,
               list_sort(list(CAST(l_quantity AS INT))) AS qs
        FROM lineitem GROUP BY l_orderkey
      )
      SELECT l_orderkey,
             array_to_string(list_transform(qs, x -> x * 2), ',') AS doubled,
             coalesce(array_to_string(list_filter(qs, x -> x % 2 = 1), ','),
                      '') AS odds,
             CAST(len(list_filter(qs, x -> x > 25)) AS BIGINT) AS big_n,
             CAST(coalesce(list_filter(qs, x -> x > 25)[1], -1) AS BIGINT) AS first_big,
             CAST(coalesce(list_position(list_transform(qs, x -> x > 25), true), 0) AS BIGINT) AS first_big_i,
             CAST(list_sum(list_transform(qs, x -> x * x)) AS BIGINT) AS sumsq,
             array_to_string(list_transform(range(1, len(qs) + 1),
               i -> CAST(list_sum(qs[1:i]) AS INT)), ',') AS cums,
             array_to_string(list_transform(qs,
               x -> list_position(list_sort(list_distinct(qs)), x)), ',') AS dense
      FROM g WHERE len(qs) >= 4
      ORDER BY l_orderkey LIMIT 100""",
    "q57_weeks_subseq" -> """
      WITH c AS (
        SELECT CASE WHEN dayofyear(o_orderdate) <
                 ((7 - dayofweek(date_trunc('year', o_orderdate))) % 7) + 1 THEN 0
               ELSE CAST((dayofyear(o_orderdate) -
                 (((7 - dayofweek(date_trunc('year', o_orderdate))) % 7) + 1)) // 7 + 1 AS INT)
               END AS wk,
               CAST(year(o_orderdate) AS INT) AS yr,
               CAST(dayofyear(date_trunc('year', o_orderdate) - INTERVAL 1 DAY) -
                 (((7 - dayofweek(date_trunc('year',
                   date_trunc('year', o_orderdate) - INTERVAL 1 DAY))) % 7) + 1) AS INT) // 7 + 1
                 AS wk_prev_dec31,
               (o_orderpriority LIKE '%U%G%T%') AS hs,
               string_split(o_orderpriority, '-')[1] AS pri
        FROM orders)
      SELECT pri, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(wk) AS BIGINT) AS wk_sum,
             CAST(min(CASE WHEN wk > 0 THEN yr * 100 + wk
               ELSE (yr - 1) * 100 + wk_prev_dec31 END) AS INT) AS yw_min,
             CAST(max(CASE WHEN wk > 0 THEN yr * 100 + wk
               ELSE (yr - 1) * 100 + wk_prev_dec31 END) AS INT) AS yw_max,
             CAST(sum(CASE WHEN hs THEN 1 ELSE 0 END) AS BIGINT) AS hs_n
      FROM c GROUP BY pri ORDER BY pri""",
    "q56_scalar_tranche10" -> """
      WITH c AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
               length(CAST(abs(o_orderkey) AS VARCHAR)) AS digs,
               gcd(o_orderkey, o_custkey) AS g,
               strpos(lower(o_orderpriority), 'gent') AS ppos,
               coalesce(regexp_extract(o_orderpriority, '([A-Z]{3,})', 1), '') AS w,
               replace(replace(replace(replace(replace(
                 o_orderstatus || '<' || o_orderpriority || '>',
                 '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'),
                 '''', '&apos;') AS enc,
               o_orderkey % 100 AS jk,
               epoch_ms(o_orderdate) AS ms
        FROM orders)
      SELECT * FROM (
        SELECT mon, CAST(count(1) AS BIGINT) AS n,
               CAST(sum(digs) AS BIGINT) AS dig_sum,
               CAST(sum(g) AS BIGINT) AS gcd_sum,
               CAST(sum(ppos) AS BIGINT) AS pack_sum,
               min(w) AS first_word,
               min(enc) AS first_enc,
               CAST(sum(jk) AS BIGINT) AS jk_sum,
               CAST(max(ms) AS BIGINT) AS max_ms
        FROM c GROUP BY mon ORDER BY mon LIMIT 24)
      ORDER BY mon""",
    "q54_multisearch" -> """
      WITH c AS (
        SELECT source,
               (text LIKE '%merge%' OR text LIKE '%window%'
                 OR text LIKE '%stream%') AS hit,
               coalesce(least(nullif(instr(text, 'merge'), 0),
                              nullif(instr(text, 'window'), 0),
                              nullif(instr(text, 'stream'), 0)), 0) AS fp,
               (length(text) - length(replace(text, 'ta', ''))) // 2 AS n_ta,
               len(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                   x -> x <> '')) AS n_tok
        FROM documents)
      SELECT source,
             CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             CAST(sum(fp) AS BIGINT) AS fp_sum,
             CAST(sum(n_ta) AS BIGINT) AS ta_sum,
             CAST(sum(n_tok) AS BIGINT) AS tok_sum
      FROM c GROUP BY source ORDER BY source""",
    "q53_url_ip" -> """
      WITH c AS (
        SELECT 'shop' || CAST(c_nationkey AS VARCHAR) || '.example.com' AS dom,
               (c_custkey % 256) >= 128 AS in_hi,
               CAST(c_custkey % 13 AS BIGINT) AS q,
               'p' || CAST(c_custkey AS VARCHAR) AS page
        FROM customer)
      SELECT dom, in_hi, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS q_sum, min(page) AS first_page
      FROM c GROUP BY dom, in_hi ORDER BY dom, in_hi""",
    "q52_sign_weighted_agg" -> """
      WITH survivors AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
        UNION ALL
        SELECT o_orderkey, o_totalprice * 1.1 FROM orders WHERE o_orderkey % 9 = 0),
      stream AS (
        SELECT o_totalprice, 1 AS sign FROM orders
        UNION ALL
        SELECT o_totalprice, -1 FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_totalprice * 1.1, 1 FROM orders WHERE o_orderkey % 9 = 0)
      SELECT CAST((SELECT sum(sign) FROM stream) AS BIGINT) AS n,
             (SELECT round(sum(o_totalprice * sign), 2) FROM stream) AS total,
             CAST((SELECT count(1) FROM survivors) AS BIGINT) AS n_final,
             (SELECT round(sum(o_totalprice), 2) FROM survivors) AS total_final""",
    "q49_summing_final" -> """
      WITH s AS (
        SELECT l_orderkey, sum(l_quantity) AS q, sum(l_extendedprice) AS p,
               min(l_linenumber) AS ln
        FROM lineitem GROUP BY l_orderkey)
      SELECT CAST(count(1) AS BIGINT) AS n,
             round(sum(q), 2) AS sum_qty,
             round(sum(p), 2) AS sum_price,
             CAST(sum(ln) AS BIGINT) AS sum_ln
      FROM s""",
    "q48_sample" -> """
      SELECT CAST(count(1) AS BIGINT) AS n,
             round(sum(o_totalprice), 2) AS total,
             round(avg(o_totalprice), 2) AS avg_price
      FROM orders
      WHERE ((o_orderkey * 2654435761) % 4294967296) * 10 < 4294967296""",
    "q47_collapsing_final" -> """
      WITH survivors AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
        UNION ALL
        SELECT o_orderkey, o_totalprice * 1.1 FROM orders WHERE o_orderkey % 9 = 0)
      SELECT CAST(count(1) AS BIGINT) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM survivors""",
    "q41_replacing_final" -> """
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderkey DESC) AS rn FROM orders)
        WHERE rn = 1 ORDER BY o_custkey LIMIT 100)
      ORDER BY o_custkey""",
    "q42_any_join" -> """
      WITH first_ord AS (
        SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
          FROM orders) WHERE rn = 1)
      SELECT * FROM (
        SELECT c.c_custkey, f.o_orderkey,
               round(f.o_totalprice, 2) AS first_price
        FROM customer c LEFT JOIN first_ord f ON c.c_custkey = f.o_custkey
        ORDER BY c.c_custkey LIMIT 200)
      ORDER BY c_custkey""",
    "q43_update_mutation" -> """
      WITH m AS (SELECT l_returnflag,
        CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
             THEN 0.0 ELSE l_discount END AS d,
        l_extendedprice AS p FROM lineitem)
      SELECT l_returnflag, round(sum(d), 2) AS sum_disc,
             round(sum(p * (1 - d)), 2) AS revenue
      FROM m GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q44_left_array_join" -> s"""
      WITH d AS (SELECT doc_id,
        list_filter(${TextQueries.toksSql}, x -> len(x) > 8) AS lt
        FROM documents),
      u AS (SELECT doc_id,
        unnest(CASE WHEN len(lt) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE lt END)
          AS tok FROM d)
      SELECT * FROM (SELECT doc_id, tok FROM u
        ORDER BY doc_id, tok NULLS FIRST LIMIT 500)
      ORDER BY doc_id, tok NULLS FIRST""",
    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_discount), 4) AS avg_disc,
             count(1) AS count_order
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q02_top_orders" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q03_shipping_priority" -> """
      SELECT l_orderkey, o_orderdate,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q04_order_priority" -> """
      SELECT o_orderpriority, count(1) AS order_count
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "q05_region_volume" -> """
      SELECT r_name, n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name""",
    "q06_revenue_forecast" -> """
      SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24""",
    "q07_rollup" -> """
      SELECT l_returnflag, l_linestatus, count(1) AS n,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q08_cube" -> """
      SELECT o_orderstatus, o_orderpriority, count(1) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q09_grouping_sets" -> """
      SELECT l_returnflag, l_linestatus, count(1) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q10_window_rank" -> """
      SELECT * FROM (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               row_number() OVER w AS rn,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey))
      WHERE rn <= 5
      ORDER BY o_orderstatus, rn""",
    "q11_window_frames" -> """
      SELECT o_orderkey, o_custkey,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
             round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
             round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
             ntile(4) OVER w AS quartile,
             round(nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS second_price
      FROM orders
      WHERE o_custkey < 50
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey""",
    "q12_limit_by" -> """
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders WHERE o_custkey < 100)
      WHERE rn <= 2
      ORDER BY o_custkey, o_orderkey""",
    "q13_distinct" -> """
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus""",
    "q14_intersect" -> """
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
      INTERSECT
      SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
      ORDER BY l_orderkey LIMIT 100""",
    "q15_except" -> """
      SELECT o_orderkey FROM orders
      EXCEPT
      SELECT l_orderkey AS o_orderkey FROM lineitem WHERE l_returnflag = 'R'
      ORDER BY o_orderkey LIMIT 100""",
    "q16_anti_join" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",
    "q17_scalar_subquery" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.8
      ORDER BY o_orderkey LIMIT 100""",
    "q18_having" -> """
      SELECT o_custkey, count(1) AS n_orders, round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY o_custkey
      HAVING count(1) >= 15
      ORDER BY o_custkey""",
    "q19_with_totals" -> """
      SELECT l_returnflag, count(1) AS n, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag)
      ORDER BY l_returnflag ASC NULLS LAST""",
    "q20_with_fill" -> """
      WITH series AS (
        SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31',
                                           INTERVAL 1 DAY)) AS DATE) AS d),
      daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, count(1) AS n
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
          AND CAST(o_orderdate AS DATE) <= DATE '1995-03-31'
        GROUP BY 1)
      SELECT series.d AS d, coalesce(daily.n, 0) AS n
      FROM series LEFT JOIN daily ON series.d = daily.d
      ORDER BY d""",
    "q21_asof_join" -> """
      SELECT event_id, user_id, o_orderdate AS last_order_date
      FROM (SELECT * FROM events WHERE event_id < 500) e
      ASOF JOIN orders ON e.user_id = orders.o_custkey AND e.ts >= orders.o_orderdate
      ORDER BY event_id""",
    "q22_quantiles" -> """
      SELECT l_returnflag,
             quantile_disc(l_extendedprice, 0.25) AS p25,
             quantile_disc(l_extendedprice, 0.5) AS p50,
             quantile_disc(l_extendedprice, 0.75) AS p75,
             quantile_disc(l_extendedprice, 0.99) AS p99
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q23_stats" -> """
      SELECT l_returnflag,
             round(stddev_samp(l_quantity), 4) AS sd_qty,
             round(var_samp(l_quantity), 4) AS var_qty,
             round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
             round(covar_samp(l_quantity, l_discount), 4) AS cov_qd
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q24_conditional_agg" -> """
      SELECT round(sum(l_quantity) FILTER (WHERE l_returnflag = 'R'), 2) AS sum_qty_r,
             count(1) FILTER (WHERE l_discount > 0.05) AS n_disc,
             round(avg(l_extendedprice) FILTER (WHERE l_linestatus = 'F'), 2) AS avg_price_f
      FROM lineitem""",
    "q25_argminmax" -> """
      WITH r AS (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
               row_number() OVER (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice ASC, o_orderkey DESC) AS rmin
        FROM orders),
      agg AS (SELECT o_orderstatus, round(max(o_totalprice), 2) AS max_price
              FROM orders GROUP BY 1)
      SELECT agg.o_orderstatus,
             mx.o_orderkey AS key_of_max,
             mn.o_orderkey AS key_of_min,
             agg.max_price
      FROM agg
      JOIN (SELECT o_orderstatus, o_orderkey FROM r WHERE rmax = 1) mx USING (o_orderstatus)
      JOIN (SELECT o_orderstatus, o_orderkey FROM r WHERE rmin = 1) mn USING (o_orderstatus)
      ORDER BY o_orderstatus""",
    "q26_date_functions" -> """
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS yyyymm,
             count(1) AS n
      FROM orders
      GROUP BY 1, 2
      ORDER BY month_start LIMIT 24""",
    "q27_uniq" -> """
      SELECT l_returnflag,
             count(DISTINCT l_suppkey) AS uniq_supp,
             count(DISTINCT l_partkey) AS uniq_part,
             count(DISTINCT l_orderkey) AS uniq_ord
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q28_cross_to_inner" -> """
      SELECT n_name, r_name FROM nation, region
      WHERE n_regionkey = r_regionkey
      ORDER BY n_name""",
    "q29_array_join" -> """
      SELECT doc_id,
             CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
             unnest(toks) AS tok
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> len(x) > 0) AS toks
            FROM documents WHERE doc_id < 20)
      ORDER BY doc_id, pos""",
    "q31_interpolate" -> """
      WITH series AS (
        SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-02-28',
                                           INTERVAL 1 DAY)) AS DATE) AS d),
      daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, round(max(o_totalprice), 2) AS mx
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
          AND CAST(o_orderdate AS DATE) <= DATE '1995-02-28'
        GROUP BY 1)
      SELECT series.d AS d,
             last_value(daily.mx IGNORE NULLS) OVER (
               ORDER BY series.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
      FROM series LEFT JOIN daily ON series.d = daily.d
      ORDER BY d""",
    "q32_json" -> """
      SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
             count(1) AS n, round(avg(value), 2) AS avg_value
      FROM events GROUP BY 1 ORDER BY k_mod""",
    // q33: exact distinct counts verified value-for-value; the HLL
    // estimates are asserted to sit inside their error envelope by the
    // gate booleans (pinned true — a drifting HLL flips them to false
    // and hash-fails the round).
    "q33_uniq_approx" -> """
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS uniq_part_exact,
             count(DISTINCT l_suppkey) AS uniq_supp_exact,
             true AS part_hll_ok, true AS supp_hll_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q34_group_array" -> """
      SELECT l_returnflag,
             array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
             count(1) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q35_setops_all" -> """
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
      INTERSECT ALL
      SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
      ORDER BY l_orderkey LIMIT 200""",
    "q36_limit_with_ties" -> """
      SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice,
               rank() OVER (ORDER BY o_totalprice DESC) AS rk
        FROM orders)
      WHERE rk <= 5
      ORDER BY o_totalprice DESC, o_orderkey""",
    "q37_lightweight_delete" -> """
      SELECT o_orderstatus, count(1) AS n, round(max(o_totalprice), 2) AS max_price
      FROM orders
      WHERE NOT (o_orderstatus = 'F' OR o_totalprice > 400000)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q38_numbers" -> """
      SELECT n, sq_mod FROM (
        SELECT range AS n, (range * range) % 7 AS sq_mod FROM range(0, 1000))
      WHERE sq_mod > 2 ORDER BY n""",
    "q70_tvf_closure" -> """
      WITH v(k, v) AS (VALUES (1, 'a'), (2, 'b'), (3, 'c')),
           f(k, w) AS (VALUES (1, 10), (2, 20), (3, 30)),
           z AS (SELECT CAST(0 AS BIGINT) AS zero FROM range(5)),
           m AS (SELECT count(1) AS n FROM nation
                 UNION ALL SELECT count(1) FROM region)
      SELECT count(1) AS nv, CAST(sum(f.w) AS BIGINT) AS wsum,
             max(v.v) AS vmax,
             (SELECT CAST(sum(zero) AS BIGINT) FROM z) AS zsum,
             (SELECT count(1) FROM z) AS zn,
             (SELECT CAST(sum(n) AS BIGINT) FROM m) AS merged_rows,
             (SELECT count(1) FROM m) AS merged_tables
      FROM v JOIN f ON v.k = f.k""",
    "q39_dict_get" -> """
      SELECT c_custkey, n_name AS nation_name,
             'unknown' AS nation_or_default,
             true AS has_key, false AS has_missing
      FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      ORDER BY c_custkey LIMIT 100""",
    "q40_correlated_subquery" -> """
      SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
             count(1) AS n
      FROM lineitem l
      WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem
                          WHERE l_partkey = l.l_partkey)""",
    "q30_in_subquery" -> """
      SELECT l_returnflag, count(1) AS n, round(sum(l_extendedprice), 2) AS total
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
  )
}

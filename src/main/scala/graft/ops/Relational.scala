package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core: scans, filters, joins, aggregations, sorts and set
  * ops (SURVEY.md §2.2–§2.5, §2.7).
  *
  * Determinism contract (§2.0): every query ends in a total ORDER BY,
  * every float aggregate is ROUNDed identically on both sides, every
  * output column is aliased, and integer-valued derived columns are
  * LongType to match DuckDB's BIGINT defaults.
  */
object Relational extends Module {

  def queries: Map[String, Q] = Map(
    // ---- §2.2 scans ------------------------------------------------
    "scan_count" -> ((s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("n"))),

    "scan_project" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    "scan_events_ns" -> ((s, d) =>
      // Exercises the §1.4 ns-timestamp recipe end to end.
      Tables.events(s, d)
        .select("event_id", "ts")
        .orderBy("event_id")),

    "scan_multifile" -> ((s, d) => {
      val o  = Tables.orders(s, d)
        .select(col("o_orderkey").as("key"), lit("orders").as("src"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("key"), lit("lineitem").as("src"))
      o.unionByName(li)
        .groupBy("key", "src")
        .agg(count(lit(1)).as("n"))
        .orderBy("key", "src")
    }),

    // ---- §2.3 filters ----------------------------------------------
    "filter_range" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
                col("l_shipdate") <  lit("1998-01-01") &&
                col("l_discount").between(0.05, 0.07))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_discount",
                "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- §2.4 joins ------------------------------------------------
    "join_inner" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(count(lit(1)).as("n_orders"),
             round(sum("o_totalprice"), 2).as("total_price"))
        .orderBy("c_custkey")
    }),

    // ---- §2.5 aggregations ----------------------------------------
    "agg_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 2).as("avg_qty"),
          round(avg("l_extendedprice"), 2).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- §2.7 sorts ------------------------------------------------
    "sort_global_topk" -> ((s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)),

    "sort_multikey" -> ((s, d) =>
      Tables.orders(s, d)
        .select("o_orderstatus", "o_totalprice", "o_orderkey")
        .orderBy(asc("o_orderstatus"), desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)),

    // ---- §2.3 Tier-B filters ---------------------------------------
    "filter_in_like" -> ((s, d) =>
      Tables.part(s, d)
        .filter(col("p_type").isin("PROMO", "ECONOMY") &&
                col("p_name").like("%a%") &&
                !(col("p_size") < 10))
        .select("p_partkey", "p_name", "p_type", "p_size")
        .orderBy("p_partkey")),

    "filter_null_safe" -> ((s, d) => {
      // Outer join generates nulls; exercise IS NULL / COALESCE / <=>.
      val perCust = Tables.orders(s, d)
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      Tables.customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          col("n").isNull.as("no_orders"),
          (col("n") <=> lit(null)).as("nullsafe_eq_null"))
        .orderBy("c_custkey")
    }),

    "filter_conditional" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("price_band",
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 150000, "mid")
            .otherwise("high"))
        .filter(col("price_band") =!= "mid")
        .groupBy("price_band")
        .agg(count(lit(1)).as("n_orders"),
             round(sum("o_totalprice"), 2).as("total_price"))
        .orderBy("price_band")),

    // ---- §2.4 Tier-B joins -----------------------------------------
    "join_broadcast" -> ((s, d) => {
      // part is a dimension (20k rows at sf0.1; a few GB at 100 TB SF)
      // — explicit broadcast avoids shuffling the lineitem fact.
      val li = Tables.lineitem(s, d)
      val p  = Tables.part(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
               .as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }),

    "join_star_5way" -> ((s, d) => {
      // Fact joined to a dimension chain; AQE broadcasts the small dims
      // so only the fact-side orders join shuffles.
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      val r  = Tables.region(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
               .as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    "join_left_outer" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
      val li  = Tables.lineitem(s, d)
      sup.join(li, sup("s_suppkey") === li("l_suppkey"), "left")
        .groupBy("s_suppkey", "s_name")
        .agg(count(col("l_orderkey")).as("n_items"))
        .orderBy("s_suppkey")
    }),

    "join_semi" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      c.join(f, c("c_custkey") === f("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "join_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "join_full_outer" -> ((s, d) => {
      val oc = Tables.orders(s, d).select(col("o_custkey").as("key")).distinct()
      val cc = Tables.customer(s, d).select(col("c_custkey").as("key")).distinct()
      oc.as("o").join(cc.as("c"), col("o.key") === col("c.key"), "full_outer")
        .select(
          col("o.key").as("orders_key"),
          col("c.key").as("customer_key"),
          col("o.key").isNotNull.as("in_orders"),
          col("c.key").isNotNull.as("in_customer"))
        .orderBy(asc_nulls_first("orders_key"), asc_nulls_first("customer_key"))
    }),

    // ---- §2.5 Tier-B aggregations ----------------------------------
    "agg_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("n_users"),
             countDistinct(col("event_type")).as("n_types"))
        .orderBy("day")),

    "agg_rollup" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      val r  = Tables.region(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("r_name"), col("n_name"),
                (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .createOrReplaceTempView("rollup_src")
      // SQL form: the DataFrame rollup+grouping() combination trips
      // Spark's ambiguous-self-join lineage check on this join chain;
      // GROUP BY ROLLUP in SQL plans the identical Expand+Aggregate.
      s.sql("""
        SELECT r_name, n_name,
               round(sum(rev), 2) AS revenue,
               count(*) AS n_items,
               CAST(grouping(r_name) AS BIGINT) AS g_region,
               CAST(grouping(n_name) AS BIGINT) AS g_nation
        FROM rollup_src
        GROUP BY ROLLUP(r_name, n_name)
        ORDER BY g_region, g_nation, r_name NULLS FIRST, n_name NULLS FIRST
      """)
    }),

    "agg_having" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") > 12)
        .orderBy("custkey")),

    "agg_stats" -> ((s, d) =>
      Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(
          round(min("c_acctbal"), 2).as("min_bal"),
          round(max("c_acctbal"), 2).as("max_bal"),
          round(avg("c_acctbal"), 2).as("avg_bal"),
          round(stddev_samp(col("c_acctbal")), 2).as("sd_bal"),
          round(var_samp(col("c_acctbal")), 2).as("var_bal"),
          count(lit(1)).as("n_cust"))
        .orderBy("c_mktsegment")),

    "agg_conditional" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          round(coalesce(sum(when(col("event_type") === "purchase",
                                  col("value"))), lit(0.0)), 2)
            .as("purchase_value"),
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "view", 1)).as("n_view"),
          count(when(col("event_type") === "error", 1)).as("n_error"))
        .orderBy("user_id")),

    "agg_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             grouping("o_orderstatus").cast("long").as("g_status"),
             grouping("o_orderpriority").cast("long").as("g_priority"))
        .orderBy(col("g_status"), col("g_priority"),
                 asc_nulls_first("o_orderstatus"),
                 asc_nulls_first("o_orderpriority"))),

    "agg_grouping_sets" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("gs_src")
      s.sql("""
        SELECT c_mktsegment, c_nationkey, count(*) AS n_cust,
               CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
               CAST(grouping(c_nationkey) AS BIGINT) AS g_nat
        FROM gs_src
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        ORDER BY g_seg, g_nat, c_mktsegment NULLS FIRST,
                 c_nationkey NULLS FIRST
      """)
    }),

    "agg_collect_sorted" -> ((s, d) =>
      // collect_list order is nondeterministic under parallelism;
      // array_sort makes it canonical, string join makes it comparable.
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(concat_ws(",", array_sort(collect_list(col("l_linenumber"))))
               .as("linenumbers"),
             count(lit(1)).as("n_lines"))
        .orderBy("l_orderkey")),

    "agg_approx_distinct" -> ((s, d) =>
      // The HLL sketch value itself differs across engines, so the
      // declared output is (exact count, sketch-within-±5% flag): the
      // approx_count_distinct still runs in this plan, and the oracle
      // (exact DISTINCT + literal TRUE) hash-matches exactly when the
      // accuracy property holds — turning the former no_oracle row
      // into a full rows+schema+hash check. The ±5% bound is also
      // property-tested in PropertySpec.
      Tables.events(s, d)
        .groupBy("event_type")
        // rsd 0.01 (not the 0.05 default): the flag asserts a 5%
        // envelope, and a sketch whose own relative standard deviation
        // is 5% breaches that envelope in the tail (seen at sf0.1 with
        // 1500 distinct users). A 1% sketch is ~16 KB per group —
        // noise — and keeps the envelope holding at every fixture SF.
        .agg(count_distinct(col("user_id")).as("exact_users"),
             approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
        .select(col("event_type"), col("exact_users"),
                (abs(col("approx_users") - col("exact_users"))
                   .cast("double") / col("exact_users") <= 0.05)
                  .as("approx_within_5pct"))
        .orderBy("event_type")),

    "join_theta_band" -> ((s, d) => {
      val a = Tables.part(s, d).as("a")
      val b = Tables.part(s, d).as("b")
      // Equi-key on brand blocks the pairing; the band predicate is a
      // post-join filter, so this stays a hash/merge join on brand —
      // never a full cross product.
      a.join(b, col("a.p_brand") === col("b.p_brand") &&
                col("a.p_partkey") < col("b.p_partkey") &&
                abs(col("a.p_retailprice") - col("b.p_retailprice")) < 10)
        .select(col("a.p_partkey").as("a_key"),
                col("b.p_partkey").as("b_key"),
                col("a.p_brand").as("brand"),
                round(col("a.p_retailprice") - col("b.p_retailprice"), 2)
                  .as("price_diff"))
        .orderBy("a_key", "b_key")
    }),

    "join_asof" -> ((s, d) => {
      // As-of join via running max: for each purchase, the user's most
      // recent signup at-or-before it (window formulation on both
      // sides, SURVEY §2.4 join_asof).
      val w = Window.partitionBy("user_id")
        .orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("last_signup_ts",
          max(when(col("event_type") === "signup", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
                col("ts").as("purchase_ts"), col("last_signup_ts"))
        .orderBy("user_id", "purchase_id")
    }),

    "agg_percentiles" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 2).as("median_price"),
             round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90_price"),
             count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")),

    "agg_corr" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 4)
               .as("qty_price_corr"),
             round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
               .as("qty_price_covar"),
             count(lit(1)).as("n_items"))
        .orderBy("l_returnflag")),

    // Scalar subquery: orders above the global average price.
    "sub_scalar_avg" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("sub_orders")
      s.sql("""
        SELECT o_orderstatus, count(*) AS n
        FROM sub_orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM sub_orders)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
      """)
    }),

    // The relational PIVOT operator (explicit value list keeps the
    // output schema deterministic); absent combos coalesce to 0 to
    // match the oracle's count(CASE ...) semantics.
    "pivot_event_types" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type",
               Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .select(col("user_id"),
                coalesce(col("click"), lit(0L)).as("click"),
                coalesce(col("view"), lit(0L)).as("view"),
                coalesce(col("purchase"), lit(0L)).as("purchase"),
                coalesce(col("signup"), lit(0L)).as("signup"),
                coalesce(col("error"), lit(0L)).as("error"))
        .orderBy("user_id")),

    "agg_bool_countif" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("bool_and(l_quantity > 0)").as("all_positive_qty"),
             expr("bool_or(l_discount > 0.07)").as("any_deep_discount"),
             expr("count_if(l_tax > 0.05)").as("n_high_tax"))
        .orderBy("l_returnflag")),

    // The UNPIVOT/stack operator: wide → long over customer metrics.
    "unpivot_metrics" -> ((s, d) =>
      Tables.customer(s, d)
        .selectExpr("c_custkey",
          """stack(2,
               'acctbal', round(c_acctbal, 2),
               'nationkey', cast(c_nationkey as double)
             ) as (metric, value)""")
        .orderBy("c_custkey", "metric")),

    // ---- §2.7 Tier-B set ops ---------------------------------------
    "set_union_distinct" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.filter(col("event_type") === "purchase").select("user_id")
        .union(e.filter(col("event_type") === "signup").select("user_id"))
        .distinct()
        .orderBy("user_id")
    }),

    "set_intersect" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_custkey").as("custkey"))
        .intersect(Tables.orders(s, d).select(col("o_custkey").as("custkey")))
        .orderBy("custkey")),

    "set_except" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_custkey").as("custkey"))
        .except(Tables.orders(s, d).select(col("o_custkey").as("custkey")))
        .orderBy("custkey"))
  )

  def oracles: Map[String, String] = Map(
    "scan_count" ->
      "SELECT count(*) AS n FROM lineitem",

    "agg_approx_distinct" ->
      """SELECT event_type,
                count(DISTINCT user_id) AS exact_users,
                TRUE AS approx_within_5pct
         FROM events
         GROUP BY event_type
         ORDER BY event_type""",

    "scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_orderkey, l_linenumber""",

    "scan_events_ns" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
         ORDER BY event_id""",

    "scan_multifile" ->
      """SELECT key, src, count(*) AS n
         FROM (SELECT o_orderkey AS key, 'orders' AS src FROM orders
               UNION ALL
               SELECT l_orderkey AS key, 'lineitem' AS src FROM lineitem)
         GROUP BY key, src
         ORDER BY key, src""",

    "filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_discount,
                l_extendedprice
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate <  TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
         ORDER BY l_orderkey, l_linenumber""",

    "join_inner" ->
      """SELECT c_custkey, c_name, count(*) AS n_orders,
                round(sum(o_totalprice), 2) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name
         ORDER BY c_custkey""",

    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
                round(avg(l_quantity), 2) AS avg_qty,
                round(avg(l_extendedprice), 2) AS avg_price,
                round(avg(l_discount), 4) AS avg_disc,
                count(*) AS cnt
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "sort_global_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "sort_multikey" ->
      """SELECT o_orderstatus, o_totalprice, o_orderkey FROM orders
         ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC
         LIMIT 100""",

    "filter_in_like" ->
      """SELECT p_partkey, p_name, p_type, p_size FROM part
         WHERE p_type IN ('PROMO', 'ECONOMY')
           AND p_name LIKE '%a%'
           AND NOT (p_size < 10)
         ORDER BY p_partkey""",

    "filter_null_safe" ->
      """SELECT c_custkey,
                coalesce(n, 0) AS n_orders,
                n IS NULL AS no_orders,
                n IS NOT DISTINCT FROM NULL AS nullsafe_eq_null
         FROM customer
         LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders
                    GROUP BY o_custkey) ord
           ON c_custkey = o_custkey
         ORDER BY c_custkey""",

    "filter_conditional" ->
      """SELECT price_band, count(*) AS n_orders,
                round(sum(o_totalprice), 2) AS total_price
         FROM (SELECT *,
                      CASE WHEN o_totalprice < 50000 THEN 'low'
                           WHEN o_totalprice < 150000 THEN 'mid'
                           ELSE 'high' END AS price_band
               FROM orders) t
         WHERE price_band <> 'mid'
         GROUP BY price_band
         ORDER BY price_band""",

    "join_broadcast" ->
      """SELECT p_brand,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand
         ORDER BY p_brand""",

    "join_star_5way" ->
      """SELECT r_name, n_name,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name
         ORDER BY r_name, n_name""",

    "join_left_outer" ->
      """SELECT s_suppkey, s_name, count(l_orderkey) AS n_items
         FROM supplier LEFT JOIN lineitem ON s_suppkey = l_suppkey
         GROUP BY s_suppkey, s_name
         ORDER BY s_suppkey""",

    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",

    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",

    "join_full_outer" ->
      """SELECT o.key AS orders_key, c.key AS customer_key,
                o.key IS NOT NULL AS in_orders,
                c.key IS NOT NULL AS in_customer
         FROM (SELECT DISTINCT o_custkey AS key FROM orders) o
         FULL JOIN (SELECT DISTINCT c_custkey AS key FROM customer) c
           ON o.key = c.key
         ORDER BY orders_key NULLS FIRST, customer_key NULLS FIRST""",

    "agg_distinct" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                count(DISTINCT user_id) AS n_users,
                count(DISTINCT event_type) AS n_types
         FROM events
         GROUP BY 1
         ORDER BY 1""",

    "agg_rollup" ->
      """SELECT r_name, n_name,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                count(*) AS n_items,
                GROUPING(r_name) AS g_region,
                GROUPING(n_name) AS g_nation
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY g_region, g_nation,
                  r_name NULLS FIRST, n_name NULLS FIRST""",

    "agg_having" ->
      """SELECT o_custkey AS custkey, count(*) AS n_orders FROM orders
         GROUP BY o_custkey
         HAVING count(*) > 12
         ORDER BY custkey""",

    "agg_stats" ->
      """SELECT c_mktsegment,
                round(min(c_acctbal), 2) AS min_bal,
                round(max(c_acctbal), 2) AS max_bal,
                round(avg(c_acctbal), 2) AS avg_bal,
                round(stddev_samp(c_acctbal), 2) AS sd_bal,
                round(var_samp(c_acctbal), 2) AS var_bal,
                count(*) AS n_cust
         FROM customer
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",

    "agg_conditional" ->
      """SELECT user_id,
                round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                        THEN value END), 0.0), 2)
                  AS purchase_value,
                count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
                count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
                count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
         FROM events
         GROUP BY user_id
         ORDER BY user_id""",

    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                GROUPING(o_orderstatus) AS g_status,
                GROUPING(o_orderpriority) AS g_priority
         FROM orders
         GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY g_status, g_priority,
                  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "agg_grouping_sets" ->
      """SELECT c_mktsegment, c_nationkey, count(*) AS n_cust,
                GROUPING(c_mktsegment) AS g_seg,
                GROUPING(c_nationkey) AS g_nat
         FROM customer
         GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
         ORDER BY g_seg, g_nat, c_mktsegment NULLS FIRST,
                  c_nationkey NULLS FIRST""",

    "agg_collect_sorted" ->
      """SELECT l_orderkey,
                string_agg(CAST(l_linenumber AS VARCHAR), ','
                           ORDER BY l_linenumber) AS linenumbers,
                count(*) AS n_lines
         FROM lineitem
         GROUP BY l_orderkey
         ORDER BY l_orderkey""",

    "join_theta_band" ->
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
                a.p_brand AS brand,
                round(a.p_retailprice - b.p_retailprice, 2) AS price_diff
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand
          AND a.p_partkey < b.p_partkey
          AND abs(a.p_retailprice - b.p_retailprice) < 10
         ORDER BY a_key, b_key""",

    "join_asof" ->
      """SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                last_signup_ts
         FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type,
                      max(CASE WHEN event_type = 'signup'
                               THEN CAST(ts AS TIMESTAMP) END)
                        OVER (PARTITION BY user_id
                              ORDER BY CAST(ts AS TIMESTAMP), event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS last_signup_ts
               FROM events
               WHERE event_type IN ('signup', 'purchase'))
         WHERE event_type = 'purchase'
         ORDER BY user_id, purchase_id""",

    "agg_percentiles" ->
      """SELECT o_orderstatus,
                round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
                round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
                count(*) AS n_orders
         FROM orders
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",

    "agg_corr" ->
      """SELECT l_returnflag,
                round(corr(l_quantity, l_extendedprice), 4)
                  AS qty_price_corr,
                round(covar_samp(l_quantity, l_extendedprice), 2)
                  AS qty_price_covar,
                count(*) AS n_items
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",

    "sub_scalar_avg" ->
      """SELECT o_orderstatus, count(*) AS n
         FROM orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",

    "pivot_event_types" ->
      """SELECT user_id,
                count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
                count(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS purchase,
                count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                count(CASE WHEN event_type = 'error' THEN 1 END) AS error
         FROM events
         GROUP BY user_id
         ORDER BY user_id""",

    "agg_bool_countif" ->
      """SELECT l_returnflag,
                bool_and(l_quantity > 0) AS all_positive_qty,
                bool_or(l_discount > 0.07) AS any_deep_discount,
                count(CASE WHEN l_tax > 0.05 THEN 1 END) AS n_high_tax
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",

    "unpivot_metrics" ->
      """SELECT c_custkey, metric, value
         FROM (SELECT c_custkey, 'acctbal' AS metric,
                      round(c_acctbal, 2) AS value
               FROM customer
               UNION ALL
               SELECT c_custkey, 'nationkey',
                      CAST(c_nationkey AS DOUBLE)
               FROM customer)
         ORDER BY c_custkey, metric""",

    "set_union_distinct" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
         UNION
         SELECT user_id FROM events WHERE event_type = 'signup'
         ORDER BY user_id""",

    "set_intersect" ->
      """SELECT c_custkey AS custkey FROM customer
         INTERSECT
         SELECT o_custkey AS custkey FROM orders
         ORDER BY custkey""",

    "set_except" ->
      """SELECT c_custkey AS custkey FROM customer
         EXCEPT
         SELECT o_custkey AS custkey FROM orders
         ORDER BY custkey"""
  )
}

package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 composite analytic queries (SURVEY §2.4/§2.5 extensions):
  * the classic warehouse shapes — shipping-priority top-k, regional
  * revenue with a join cycle, returned-items customer ranking — plus
  * the subquery forms (correlated EXISTS / LATERAL top-n per group)
  * and ordered-set aggregates that complete the SQL surface.
  *
  * 100 TB posture: every query keeps dimensions broadcast and facts
  * shuffle-only-on-aggregation. The LATERAL top-n and the ordered-set
  * aggregates are window/sort shapes whose partition key (nation,
  * returnflag) is the natural parallelism axis; sums over money
  * columns go through a decimal cast so partial/merge aggregation is
  * order-independent (exact) regardless of partition count.
  */
object Tpch extends Module {

  /** Order-independent revenue sum: the double multiply is identical
    * on both engines, the decimal sum is exact under any partial-agg
    * association, the final round+cast is deterministic. */
  private val revenue =
    round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(30,10)")), 2).cast("double")

  def queries: Map[String, Q] = Map(
    // Shipping-priority top-10 (TPC-H Q3 shape): segment-filtered
    // customers drive an orders/lineitem join with date predicates on
    // both facts; revenue-ranked top 10 with a deterministic tiebreak.
    // The segment filter lands on the scan (pushed down), customer
    // broadcasts, and only the two facts shuffle — on the join key
    // they are already co-aggregated on.
    "tpch_q3_shipping" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < to_timestamp(lit("1998-06-15")))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > to_timestamp(lit("1998-06-15")))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    }),

    // Regional supplier revenue (TPC-H Q5 shape): the distinctive part
    // is the join CYCLE — lineitem joins supplier on l_suppkey AND the
    // customer and supplier nations must match, so the plan is a star
    // join plus one extra equi-edge. nation/region/supplier broadcast;
    // the orders date filter prunes the fact scan.
    "tpch_q5_region" -> ((s, d) => {
      // Deterministic region pick (min r_name) as a declarative
      // broadcast join against the 1-row min aggregate — never a
      // driver-side collect.
      val minR = Tables.region(s, d).agg(min("r_name").as("r_name_min"))
      val asia = broadcast(
        Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).join(broadcast(minR),
              col("r_name") === col("r_name_min"))
            .select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name"))
      // Range predicate, not year(): a function-wrapped column defeats
      // parquet filter pushdown; the equivalent range reaches the scan.
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
                col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .select("o_orderkey", "o_custkey")
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(asia, col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(revenue.as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }),

    // Returned-items customer ranking (TPC-H Q10 shape): revenue lost
    // to returns per customer over one quarter, top 20. The returnflag
    // and date filters push to the fact scans; customer/nation
    // broadcast into the final enrichment.
    "tpch_q10_returns" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
                col("o_orderdate") < to_timestamp(lit("1997-07-01")))
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(revenue.as("revenue"))
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    }),

    // Large-volume order customers (TPC-H Q18 shape): orders whose
    // total line quantity exceeds 300, with their customer. The
    // qualifying-order set is the HAVING aggregate's output — tiny
    // relative to the fact table at any scale — so it broadcasts into
    // orders, and the (orders ⋈ big) survivor set broadcasts into
    // customer: lineitem is the only table that shuffles (once, for
    // its groupBy). Quantities are integer-valued doubles, so the
    // HAVING threshold is exact in both engines.
    "tpch_q18" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 300)
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      Tables.customer(s, d).select("c_custkey", "c_name")
        .join(broadcast(ord), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
                col("o_orderdate"),
                round(col("o_totalprice"), 2).as("o_totalprice"),
                round(col("sum_qty"), 2).as("sum_qty"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    }),

    // Ordered-set aggregates: exact median, discrete and interpolated
    // percentiles per group — the quantile surface. Quantities are
    // small exact doubles, so the interpolated forms are cross-engine
    // exact without scaling.
    "agg_median_disc" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li_med")
      s.sql("""SELECT l_returnflag,
                      median(l_quantity) AS med_qty,
                      percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
                        AS p50_disc,
                      percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity)
                        AS p25_cont,
                      percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity)
                        AS p75_cont
               FROM graft_li_med
               GROUP BY l_returnflag
               ORDER BY l_returnflag""")
    }),

    // Correlated EXISTS / NOT EXISTS: customers with at least one
    // urgent-priority order and no 'F'-status order. Catalyst plans
    // these as a left-semi and a left-anti join on o_custkey — the
    // decorrelated distributed form; no per-row subquery execution.
    "exists_subquery" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_ex")
      Tables.orders(s, d).createOrReplaceTempView("graft_ord_ex")
      s.sql("""SELECT c_custkey, c_name
               FROM graft_cust_ex c
               WHERE EXISTS (SELECT 1 FROM graft_ord_ex o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_orderpriority = '1-URGENT')
                 AND NOT EXISTS (SELECT 1 FROM graft_ord_ex o2
                                 WHERE o2.o_custkey = c.c_custkey
                                   AND o2.o_orderstatus = 'F')
               ORDER BY c_custkey""")
    }),

    // LATERAL top-n per group: for every nation, its top-2 customers
    // by account balance — the canonical "top-n per key without a
    // self-join" form. Catalyst rewrites the correlated LATERAL with
    // LIMIT into a partitioned rank under the hood; at 100 TB the
    // partition key (nation) is the parallelism axis.
    "join_lateral_topn" -> ((s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("graft_nat_lat")
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_lat")
      s.sql("""SELECT n.n_name, t.c_custkey, t.c_acctbal
               FROM graft_nat_lat n,
               LATERAL (SELECT c_custkey, c_acctbal
                        FROM graft_cust_lat c
                        WHERE c.c_nationkey = n.n_nationkey
                        ORDER BY c_acctbal DESC, c_custkey
                        LIMIT 2) t
               ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""")
    }),

    // first/last/nth analytic functions: per user's event timeline,
    // the first and last event type and the second event id. Full
    // unbounded frame so last_value is the true partition last; the
    // (ts, event_id) ordering is total, so results are deterministic.
    "win_first_last" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("first_type", first("event_type").over(w))
        .withColumn("last_type", last("event_type").over(w))
        .withColumn("second_event_id", nth_value(col("event_id"), 2).over(w))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") === 1)
        .select("user_id", "first_type", "last_type", "second_event_id")
        .orderBy("user_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "tpch_q3_shipping" ->
      """SELECT l_orderkey,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(30,10))), 2) AS DOUBLE)
                  AS revenue,
                o_orderdate, o_orderpriority
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-15'
           AND l_shipdate > TIMESTAMP '1998-06-15'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10""",

    "tpch_q5_region" ->
      """SELECT n_name,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(30,10))), 2) AS DOUBLE)
                  AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
                      AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = (SELECT min(r_name) FROM region)
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",

    "tpch_q10_returns" ->
      """SELECT c_custkey, c_name, n_name, revenue
         FROM (SELECT o_custkey,
                      CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                          AS DECIMAL(30,10))), 2) AS DOUBLE)
                        AS revenue
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               WHERE l_returnflag = 'R'
                 AND o_orderdate >= TIMESTAMP '1997-01-01'
                 AND o_orderdate < TIMESTAMP '1997-07-01'
               GROUP BY o_custkey) r
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",

    "tpch_q18" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                round(o_totalprice, 2) AS o_totalprice,
                round(sum_qty, 2) AS sum_qty
         FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
               FROM lineitem GROUP BY l_orderkey
               HAVING sum(l_quantity) > 300) big
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey""",

    "agg_median_disc" ->
      """SELECT l_returnflag,
                median(l_quantity) AS med_qty,
                quantile_disc(l_quantity, 0.5) AS p50_disc,
                quantile_cont(l_quantity, 0.25) AS p25_cont,
                quantile_cont(l_quantity, 0.75) AS p75_cont
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",

    "exists_subquery" ->
      """SELECT c_custkey, c_name
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
           AND NOT EXISTS (SELECT 1 FROM orders o2
                           WHERE o2.o_custkey = c.c_custkey
                             AND o2.o_orderstatus = 'F')
         ORDER BY c_custkey""",

    "join_lateral_topn" ->
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
         FROM nation n,
         LATERAL (SELECT c_custkey, c_acctbal
                  FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey
                  LIMIT 2) t
         ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""",

    "win_first_last" ->
      """SELECT user_id, first_type, last_type, second_event_id
         FROM (SELECT user_id,
                      first_value(event_type) OVER w AS first_type,
                      last_value(event_type) OVER w AS last_type,
                      nth_value(event_id, 2) OVER w AS second_event_id,
                      row_number() OVER
                        (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
               FROM events
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING))
         WHERE rn = 1
         ORDER BY user_id"""
  )
}

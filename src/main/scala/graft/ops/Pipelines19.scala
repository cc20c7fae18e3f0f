package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 fourth batch (SURVEY §2.11u): disjunctive-predicate join
  * (TPC-H Q19 shape), sole-late-supplier (Q21 shape re-planned without
  * self-joins), mergeable HLL sketch rollup, fixed-grid value
  * histogram, nested-struct column pruning through a parquet
  * round-trip, and second-order event-path transitions.
  */
object Pipelines19 extends Module {

  def queries: Map[String, Q] = Map(
    // TPC-H Q19 shape: an OR-of-ANDs predicate spanning both join
    // sides. The only equi-conjunct (p_partkey = l_partkey) is the
    // join key; Catalyst additionally derives the CNF common factors
    // (p_brand IN (…), l_quantity <= 30) and pushes each to its own
    // scan, so at 100 TB the fact scan is pre-filtered before the
    // shuffle instead of evaluating the disjunction on every joined
    // row. part is dimension-sized → broadcast. Revenue uses the
    // §2.0 decimal-sum rule (per-term double product is engine-
    // identical; decimal sum is exact and order-independent).
    "tpch_q19_disjunct" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li_q19")
      Tables.part(s, d).createOrReplaceTempView("graft_part_q19")
      s.sql("""SELECT count(*) AS n_items,
                      CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                          AS DECIMAL(30,10))), 2) AS DOUBLE)
                        AS revenue
               FROM graft_li_q19 JOIN graft_part_q19
                 ON p_partkey = l_partkey
               WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                      AND l_quantity BETWEEN 1 AND 11)
                  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                      AND l_quantity BETWEEN 10 AND 20)
                  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                      AND l_quantity BETWEEN 20 AND 30)""")
    }),

    // TPC-H Q21 shape (suppliers who were the SOLE late shipper in a
    // multi-supplier order) — re-planned Spark-first: the textbook
    // formulation scans lineitem three times (base + EXISTS +
    // NOT EXISTS self-joins). Equivalent single-scan plan: reduce to
    // (orderkey, suppkey, any_late) grain, then a window over
    // l_orderkey (uniform key, group size = suppliers-per-order ≤ ~15
    // regardless of corpus size) computes n_supp / n_late, and the
    // waiting rows are late=1 ∧ n_supp≥2 ∧ n_late=1. One shuffle join
    // lineitem⋈orders, one agg, one bounded window — no self-join.
    // "Late" adapts the reference predicate to this schema's columns:
    // shipped >90 days after the order date (calendar-day DATE
    // subtraction — identical in both engines at date grain).
    // Round 18 (opt, guide §2.4): the agg and the window are keyed on
    // the same l_orderkey, so ONE explicit hash repartition on it
    // serves both — hashpartitioning(l_orderkey) satisfies the
    // (l_orderkey, l_suppkey) aggregate's clustered distribution
    // (subset rule) AND the window's, collapsing the former
    // back-to-back exchanges (hash(ok,sk) then hash(ok)) to one.
    // Partial aggregation bought ~nothing here ((order, supplier) is
    // already near-distinct per scan partition), so shuffling the
    // pre-agg rows costs the same bytes the two-exchange form paid
    // into its first shuffle alone.
    "tpch_q21_late_supplier" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val g = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
                (datediff(to_date(col("l_shipdate")),
                          to_date(col("o_orderdate"))) > 90)
                  .cast("int").as("late_i"))
        .repartition(col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max("late_i").as("late"))
      val w = Window.partitionBy("l_orderkey")
      val flagged = g
        .withColumn("n_supp", count(lit(1)).over(w))
        .withColumn("n_late", sum("late").over(w))
        .filter(col("late") === 1 && col("n_supp") >= 2 &&
                col("n_late") === 1)
      flagged
        .join(broadcast(Tables.supplier(s, d)),
              col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    // Mergeable-sketch rollup — the pattern that makes 100 TB distinct
    // counts cheap: per-(day, type) HLL sketches (DataSketches
    // hll_sketch_agg) are built once at fine grain, then hll_union_agg
    // rolls them up to type grain WITHOUT re-touching the fact rows —
    // exactly how a cluster pre-aggregates distincts per partition and
    // merges. Sketch bytes differ across engines, so the declared
    // output is the established sketch-audit form: exact count + a
    // within-envelope flag the oracle states as literal TRUE.
    // lgConfigK=14 keeps relative error ~0.6% — far inside the 5%
    // envelope at every fixture SF.
    "agg_hll_mergeable" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val daily = ev
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val merged = daily
        .groupBy("event_type")
        .agg(hll_sketch_estimate(
               hll_union_agg(col("sk"), false))
               .as("est"))
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_users"))
      exact.join(merged, "event_type")
        .select(col("event_type"), col("exact_users"),
                (abs(col("est") - col("exact_users")) * 100 <=
                   col("exact_users") * 5).as("within_5pct"))
        .orderBy("event_type")
    }),

    // Fixed-grid histogram of the value column per event type: bucket
    // = clamp(floor(value/25), 0, 19). The bucket edge is a single
    // IEEE double division + floor — bit-identical across engines —
    // and everything after it is integer. One uniform-key agg; the
    // grid is constant-size, so the result is bounded at any corpus
    // scale (the histogram itself is the aggregate — no corpus-global
    // window, SCALE.md §14 compliant).
    "events_value_histogram" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("bucket",
          least(greatest(floor(col("value") / 25.0), lit(0)), lit(19))
            .cast("long"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bucket")),

    // Nested-struct parquet round-trip with leaf-level column pruning:
    // orders written as (o_orderkey, cust:(custkey,status),
    // money:(cents,priority)), read back selecting only money.* — the
    // scan's ReadSchema must contain just the money leaves (asserted
    // in Round7dSpec), because at 100 TB reading one struct leaf vs
    // the whole row group is the difference between a column scan and
    // a table scan. Cents via the established round(x*100) rule (DuckDB
    // rounds on double→bigint cast where Spark truncates; an explicit
    // round() first makes both exact).
    "scan_nested_prune" -> ((s, d) => {
      val out = Sinks.sinkPath(s, "orders_nested", d)
      Tables.orders(s, d)
        .select(col("o_orderkey"),
                struct(col("o_custkey"), col("o_orderstatus")).as("cust"),
                struct(round(col("o_totalprice") * 100).cast("long")
                         .as("cents"),
                       col("o_orderpriority").as("priority")).as("money"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select(col("money.priority").as("priority"),
                col("money.cents").as("cents"))
        .groupBy("priority")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
        .orderBy("priority")
    }),

    // Second-order path transitions: P(next | prev2, prev1) support
    // counts — one step beyond events_path_transitions' first-order
    // matrix (the Markov-order check a sessionized-funnel model
    // needs). Window partitioned on user_id (uniform, bounded by
    // per-user history), then a uniform-key agg over the ≤|types|³
    // combination space.
    "events_path_2gram" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type"))
        .withColumn("prev1", lag("event_type", 1).over(w))
        .withColumn("prev2", lag("event_type", 2).over(w))
        .filter(col("prev2").isNotNull)
        .groupBy(col("prev2"), col("prev1"),
                 col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev2", "prev1", "next_type")
    })
  )

  def oracles: Map[String, String] = Map(
    "tpch_q19_disjunct" ->
      """SELECT count(*) AS n_items,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(30,10))), 2) AS DOUBLE)
                  AS revenue
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                AND l_quantity BETWEEN 20 AND 30)""",

    "tpch_q21_late_supplier" ->
      """WITH g AS (
           SELECT l_orderkey, l_suppkey,
                  max(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                          CAST(l_shipdate AS DATE)) > 90
                           THEN 1 ELSE 0 END) AS late
           FROM lineitem JOIN orders ON o_orderkey = l_orderkey
           GROUP BY 1, 2
         ),
         w AS (
           SELECT l_suppkey, late,
                  count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
                  sum(late) OVER (PARTITION BY l_orderkey) AS n_late
           FROM g
         )
         SELECT s_name, count(*) AS numwait
         FROM w JOIN supplier ON s_suppkey = l_suppkey
         WHERE late = 1 AND n_supp >= 2 AND n_late = 1
         GROUP BY s_name
         ORDER BY numwait DESC, s_name""",

    "agg_hll_mergeable" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
                TRUE AS within_5pct
         FROM events GROUP BY 1 ORDER BY 1""",

    "events_value_histogram" ->
      """SELECT event_type,
                CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT)
                  AS bucket,
                count(*) AS n
         FROM events
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "scan_nested_prune" ->
      """SELECT o_orderpriority AS priority, count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents
         FROM orders
         GROUP BY 1 ORDER BY 1""",

    "events_path_2gram" ->
      """WITH l AS (
           SELECT event_type,
                  lag(event_type, 1) OVER w AS prev1,
                  lag(event_type, 2) OVER w AS prev2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         )
         SELECT prev2, prev1, event_type AS next_type, count(*) AS n
         FROM l
         WHERE prev2 IS NOT NULL
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3"""
  )
}

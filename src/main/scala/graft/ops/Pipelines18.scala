package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 third batch — SURVEY.md §2.11t: feature-pipeline and
  * business-analytics staples — LOCF forward fill (IGNORE NULLS
  * window frames), inter-purchase intervals, an EXACT Pareto top-set
  * count computed scale-safely (bucketed two-pass prefix sums — the
  * llm_token_budget_sample pattern on a second metric), and
  * closed-form business-day arithmetic. SURVEY §2.0 determinism rules
  * apply; floats never enter any comparison or rounding step — the
  * LOCF output is floor(v·1000) (floor of the same IEEE double is
  * engine-exact; round() is not), everything else is integer.
  */
object Pipelines18 extends Module {

  def queries: Map[String, Q] = Map(
    // Last-observation-carried-forward: each event carries the most
    // recent purchase value seen by that user — the canonical
    // feature-engineering forward fill (sensor/state propagation),
    // expressed as last_value IGNORE NULLS over a running frame.
    // Window partitions on user_id (uniform); no nullable double
    // reaches the output: floor(v·1000) with a −1 sentinel before the
    // first observation.
    "win_locf_fill" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("graft_ev_locf")
      s.sql("""WITH e AS (
                 SELECT event_id, user_id, ts,
                        CASE WHEN event_type = 'purchase' THEN value
                        END AS pv
                 FROM graft_ev_locf
               ),
               f AS (
                 SELECT event_id, user_id, ts,
                        last_value(pv) IGNORE NULLS OVER
                          (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS fv
                 FROM e
               )
               SELECT event_id, user_id,
                      coalesce(CAST(floor(fv * 1000) AS BIGINT), -1)
                        AS filled_millis
               FROM f
               ORDER BY user_id, ts, event_id""")
    }),

    // Days between successive orders per customer (lead over the
    // custkey-partitioned order sequence — uniform key), rolled up to
    // the segment: mean inter-purchase gap in integer days, half-up
    // (gaps are non-negative). The repurchase-cadence number demand
    // forecasting starts from.
    "orders_interpurchase" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .join(Tables.customer(s, d),
              col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_custkey"),
                expr("unix_date(to_date(o_orderdate))").as("od"),
                col("o_orderkey"))
      o.createOrReplaceTempView("graft_o_ip")
      s.sql("""WITH g AS (
                 SELECT c_mktsegment,
                        lead(od) OVER
                          (PARTITION BY o_custkey
                           ORDER BY od, o_orderkey) - od AS gap
                 FROM graft_o_ip
               )
               SELECT c_mktsegment, count(gap) AS n_gaps,
                      (2 * sum(gap) + count(gap)) div (2 * count(gap))
                        AS avg_gap_days,
                      CAST(max(gap) AS BIGINT) AS max_gap_days
               FROM g WHERE gap IS NOT NULL
               GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    // EXACT Pareto top-set: the minimum number of customers whose
    // revenue covers 80% of their segment — computed WITHOUT a
    // segment-global ranking window. Two-pass bucketed prefix sums
    // (the llm_token_budget_sample shape): revenue buckets
    // floor(log2(cents+1)) aggregate per (segment, bucket); a
    // descending running sum over that ≤64-row-per-segment aggregate
    // gives each bucket the revenue mass strictly above it; a
    // row_number window inside each (segment, bucket) — uniform
    // composite key, never the whole segment — gives the within-bucket
    // running mass. A customer is in the minimal top set iff the mass
    // strictly before it (above-bucket + within-bucket prefix) is
    // below 80% of the segment total; integer comparison 10·before <
    // 8·total. Ordering is total (cents desc, custkey) and bucket
    // boundaries respect it, so the count is exactly the global-sort
    // answer.
    "orders_pareto_threshold" -> ((s, d) => {
      // Round 18 (opt, guide §2.4): the per-customer revenue CTE was
      // referenced by THREE consumers (b → bagg, b → w, and the
      // segment total t), and Spark inlines deterministic CTEs per
      // reference — the orders⋈customer join + per-customer aggregate
      // executed three times. Materialize it once as a checkpointed
      // |customers|-row temp view; the SQL below is otherwise
      // unchanged. Results identical.
      Tables.orders(s, d)
        .join(Tables.customer(s, d),
              col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_custkey"),
                expr("cast(round(o_totalprice * 100) as bigint)")
                  .as("cents"))
        .groupBy("c_mktsegment", "o_custkey")
        .agg(sum("cents").cast("long").as("cents"))
        .localCheckpoint()
        .createOrReplaceTempView("graft_rev_pareto")
      s.sql("""WITH b AS (
                 SELECT *, CAST(floor(log2(cents + 1)) AS INT) AS bkt
                 FROM graft_rev_pareto
               ),
               bagg AS (
                 SELECT c_mktsegment, bkt, sum(cents) AS s_cents
                 FROM b GROUP BY c_mktsegment, bkt
               ),
               babove AS (
                 SELECT c_mktsegment, bkt,
                        coalesce(sum(s_cents) OVER
                          (PARTITION BY c_mktsegment ORDER BY bkt DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS above
                 FROM bagg
               ),
               t AS (
                 SELECT c_mktsegment, sum(cents) AS total
                 FROM graft_rev_pareto GROUP BY c_mktsegment
               ),
               w AS (
                 SELECT b.c_mktsegment, b.cents, t.total,
                        ba.above +
                        sum(b.cents) OVER
                          (PARTITION BY b.c_mktsegment, b.bkt
                           ORDER BY b.cents DESC, b.o_custkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) - b.cents AS before
                 FROM b
                 JOIN babove ba ON b.c_mktsegment = ba.c_mktsegment
                              AND b.bkt = ba.bkt
                 JOIN t ON b.c_mktsegment = t.c_mktsegment
               )
               SELECT c_mktsegment,
                      count(*) AS n_customers,
                      CAST(sum(CASE WHEN 10 * before < 8 * total
                               THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_top_customers,
                      CAST(sum(CASE WHEN 10 * before < 8 * total
                               THEN cents ELSE 0 END) AS BIGINT)
                        AS top_cents,
                      CAST(max(total) AS BIGINT) AS total_cents
               FROM w
               GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    // Business days (Mon–Fri) between order and ship date, closed
    // form — no calendar spine, no UDF: f(x) = 5·((x+3) div 7) +
    // least((x+3) mod 7, 5) counts weekdays from the epoch (epoch day
    // 0 = Thursday, +3 starts weeks on Monday); the span is
    // f(ship) − f(order). Pure integer arithmetic, identical in both
    // engines; aggregated per priority with the half-up integer mean.
    "dt_business_days" -> ((s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
              col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
                expr("unix_date(to_date(o_orderdate))").as("od"),
                expr("unix_date(to_date(l_shipdate))").as("sd"))
        .createOrReplaceTempView("graft_bd")
      s.sql("""WITH f AS (
                 SELECT o_orderpriority,
                        (5 * ((sd + 3) div 7) + least((sd + 3) % 7, 5)) -
                        (5 * ((od + 3) div 7) + least((od + 3) % 7, 5))
                          AS bdays
                 FROM graft_bd
               )
               SELECT o_orderpriority, count(*) AS n_items,
                      (2 * sum(bdays) + count(*)) div (2 * count(*))
                        AS avg_business_days,
                      CAST(max(bdays) AS BIGINT) AS max_business_days
               FROM f
               GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    })
  )

  def oracles: Map[String, String] = Map(
    "win_locf_fill" ->
      """WITH e AS (
           SELECT event_id, user_id, ts,
                  CASE WHEN event_type = 'purchase' THEN value END AS pv
           FROM events
         ),
         f AS (
           SELECT event_id, user_id, ts,
                  last_value(pv IGNORE NULLS) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS fv
           FROM e
         )
         SELECT event_id, user_id,
                coalesce(CAST(floor(fv * 1000) AS BIGINT), -1)
                  AS filled_millis
         FROM f
         ORDER BY user_id, ts, event_id""",

    "orders_interpurchase" ->
      """WITH o AS (
           SELECT c_mktsegment, o_custkey,
                  date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS od,
                  o_orderkey
           FROM orders JOIN customer ON o_custkey = c_custkey
         ),
         g AS (
           SELECT c_mktsegment,
                  lead(od) OVER (PARTITION BY o_custkey
                                 ORDER BY od, o_orderkey) - od AS gap
           FROM o
         )
         SELECT c_mktsegment, count(gap) AS n_gaps,
                CAST((2 * sum(gap) + count(gap)) // (2 * count(gap))
                     AS BIGINT) AS avg_gap_days,
                CAST(max(gap) AS BIGINT) AS max_gap_days
         FROM g WHERE gap IS NOT NULL
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "orders_pareto_threshold" ->
      """WITH rev AS (
           SELECT c_mktsegment, o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS cents
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_mktsegment, o_custkey
         ),
         b AS (
           SELECT *, CAST(floor(log2(cents + 1)) AS INT) AS bkt FROM rev
         ),
         bagg AS (
           SELECT c_mktsegment, bkt, sum(cents) AS s_cents
           FROM b GROUP BY c_mktsegment, bkt
         ),
         babove AS (
           SELECT c_mktsegment, bkt,
                  coalesce(sum(s_cents) OVER
                    (PARTITION BY c_mktsegment ORDER BY bkt DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS above
           FROM bagg
         ),
         t AS (
           SELECT c_mktsegment, sum(cents) AS total
           FROM rev GROUP BY c_mktsegment
         ),
         w AS (
           SELECT b.c_mktsegment, b.cents, t.total,
                  ba.above +
                  sum(b.cents) OVER
                    (PARTITION BY b.c_mktsegment, b.bkt
                     ORDER BY b.cents DESC, b.o_custkey
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - b.cents AS before
           FROM b
           JOIN babove ba ON b.c_mktsegment = ba.c_mktsegment
                         AND b.bkt = ba.bkt
           JOIN t ON b.c_mktsegment = t.c_mktsegment
         )
         SELECT c_mktsegment,
                count(*) AS n_customers,
                CAST(sum(CASE WHEN 10 * before < 8 * total
                         THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_top_customers,
                CAST(sum(CASE WHEN 10 * before < 8 * total
                         THEN cents ELSE 0 END) AS BIGINT) AS top_cents,
                CAST(max(total) AS BIGINT) AS total_cents
         FROM w
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "dt_business_days" ->
      """WITH j AS (
           SELECT o_orderpriority,
                  date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS od,
                  date_diff('day', DATE '1970-01-01',
                            CAST(l_shipdate AS DATE)) AS sd
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ),
         f AS (
           SELECT o_orderpriority,
                  (5 * ((sd + 3) // 7) + least((sd + 3) % 7, 5)) -
                  (5 * ((od + 3) // 7) + least((od + 3) % 7, 5)) AS bdays
           FROM j
         )
         SELECT o_orderpriority, count(*) AS n_items,
                CAST((2 * sum(bdays) + count(*)) // (2 * count(*))
                     AS BIGINT) AS avg_business_days,
                CAST(max(bdays) AS BIGINT) AS max_business_days
         FROM f
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""
  )
}

package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions (SURVEY.md §2.6).
  *
  * Determinism: every window ORDER BY carries a unique tiebreak column
  * so rank/row_number/frames are reproducible; rank-style integer
  * outputs are cast to LongType to match DuckDB's BIGINT; running
  * float aggregates are rounded (frame accumulation order is fixed by
  * the unique ordering, rounding absorbs last-ulp engine differences).
  */
object Windows extends Module {

  def queries: Map[String, Q] = Map(
    "win_rank_topk" -> ((s, d) => {
      // Unique tiebreak (orderkey, linenumber) makes rank deterministic.
      // Two-phase top-k: l_returnflag has only 3 distinct values, so a
      // single window over it caps parallelism at 3 tasks regardless
      // of cluster size (flagged in VERDICT r1). Phase 1 takes the
      // per-(flag, salt) top-5 across 16 salts — a 48-partition window
      // that discards all but ≤ 80 rows per flag; phase 2 runs the
      // original 3-partition window on those survivors only. Exact:
      // the ordering is a total order, so every global top-5 row is in
      // its salt group's top-5.
      val ord = Seq(desc("l_extendedprice"), asc("l_orderkey"),
                    asc("l_linenumber"))
      val wLocal = Window
        .partitionBy(col("l_returnflag"), pmod(col("l_orderkey"), lit(16)))
        .orderBy(ord: _*)
      val w = Window.partitionBy("l_returnflag").orderBy(ord: _*)
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
                col("l_extendedprice"))
        .withColumn("lrnk", row_number().over(wLocal))
        .filter(col("lrnk") <= 5)
        .drop("lrnk")
        .withColumn("rnk", rank().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .orderBy("l_returnflag", "rnk")
    }),

    // Same top-5-per-flag result through the custom whole-operator
    // plan node (plans/TopKPerGroup.scala): bounded per-partition
    // k-row heaps, then an exchange over only the ≤ k·|partitions|
    // survivors per group — never a full-group sort. The post-hoc rank
    // window runs over the 15 surviving rows, not the input.
    "win_topk_native" -> ((s, d) => {
      val top = graft.plans.TopKPerGroup(
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_orderkey"),
                  col("l_linenumber"), col("l_extendedprice")),
        groupCols = Seq("l_returnflag"),
        orderCols = Seq(("l_extendedprice", true), ("l_orderkey", false),
                        ("l_linenumber", false)),
        k = 5)
      val w = Window.partitionBy("l_returnflag")
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"),
                 asc("l_linenumber"))
      top.withColumn("rnk", row_number().over(w).cast("long"))
        .orderBy("l_returnflag", "rnk")
    }),

    "win_rownum_dedup" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(asc("ts"), asc("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
        .orderBy("user_id", "event_type")
    }),

    "win_running_sum" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("running_value", round(sum("value").over(w), 2))
        .drop("value")
        .orderBy("user_id", "ts", "event_id")
    }),

    "win_moving_avg" -> ((s, d) => {
      // Moving average emitted as exact integer cents (floor of
      // cents-sum / frame-count): averaging raw doubles lands on
      // half-cent rounding boundaries where engines' last-ulp
      // accumulation differences flip round(x, 2).
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").as("day"))
        .agg(round(sum("o_totalprice"), 2).as("rev"))
        .withColumn("rev_c", round(col("rev") * 100, 0).cast("long"))
      val w = Window.orderBy("day").rowsBetween(-3, 0)
      daily
        .withColumn("mov_avg_4d_cents",
          floor(sum("rev_c").over(w) / count(lit(1)).over(w)).cast("long"))
        .select(col("day"), col("rev").as("daily_rev"),
                col("mov_avg_4d_cents"))
        .orderBy("day")
    }),

    "win_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("gap_prev_s",
          unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(w)))
        .withColumn("gap_next_s",
          unix_timestamp(lead("ts", 1).over(w)) - unix_timestamp(col("ts")))
        .orderBy("user_id", "ts", "event_id")
    }),

    "win_ntile" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(asc("c_acctbal"), asc("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .orderBy("c_nationkey", "quartile", "c_custkey")
    }),

    // Value-based RANGE frame: rolling 1-hour sum per user keyed on
    // epoch seconds (ties at the same second are included wholly by
    // the frame on both engines, so no tiebreak ambiguity).
    "win_range_1h_sum" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("epoch_s", unix_timestamp(col("ts")))
        .withColumn("rolling_1h", round(sum("value").over(w), 2))
        .select("user_id", "event_id", "ts", "rolling_1h")
        .orderBy("user_id", "ts", "event_id")
    }),

    "win_cume_dist" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .withColumn("cd", round(cume_dist().over(w), 4))
        .orderBy("c_nationkey", "c_custkey")
    }),

    "win_analytic_mix" -> ((s, d) => {
      val ord = Window.partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      val full = ord.rowsBetween(Window.unboundedPreceding,
                                 Window.unboundedFollowing)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .withColumn("d_rank", dense_rank().over(ord).cast("long"))
        .withColumn("p_rank", round(percent_rank().over(ord), 4))
        .withColumn("top_bal", round(first("c_acctbal").over(full), 2))
        .withColumn("bottom_bal", round(last("c_acctbal").over(full), 2))
        .orderBy("c_nationkey", "d_rank")
    })
  )

  def oracles: Map[String, String] = Map(
    "win_rank_topk" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                rank() OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice DESC, l_orderkey,
                                      l_linenumber) AS rnk
         FROM lineitem
         QUALIFY rnk <= 5
         ORDER BY l_returnflag, rnk""",

    "win_topk_native" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                row_number() OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice DESC, l_orderkey,
                                            l_linenumber) AS rnk
         FROM lineitem
         QUALIFY rnk <= 5
         ORDER BY l_returnflag, rnk""",

    "win_rownum_dedup" ->
      """SELECT user_id, event_type, event_id, ts
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) = 1
         ORDER BY user_id, event_type""",

    "win_running_sum" ->
      """SELECT user_id, event_id, ts,
                round(sum(value) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW), 2)
                  AS running_value
         FROM events
         ORDER BY user_id, ts, event_id""",

    "win_moving_avg" ->
      """SELECT day, rev AS daily_rev,
                CAST(floor(sum(rev_c) OVER w * 1.0 /
                           count(*) OVER w) AS BIGINT)
                  AS mov_avg_4d_cents
         FROM (SELECT o_orderdate AS day,
                      round(sum(o_totalprice), 2) AS rev,
                      CAST(round(round(sum(o_totalprice), 2) * 100, 0)
                           AS BIGINT) AS rev_c
               FROM orders GROUP BY o_orderdate)
         WINDOW w AS (ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         ORDER BY day""",

    "win_lag_lead" ->
      """SELECT user_id, event_id, ts,
                date_diff('second',
                          lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id), ts)
                  AS gap_prev_s,
                date_diff('second', ts,
                          lead(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id))
                  AS gap_next_s
         FROM events
         ORDER BY user_id, ts, event_id""",

    "win_ntile" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
                ntile(4) OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal, c_custkey) AS quartile
         FROM customer
         ORDER BY c_nationkey, quartile, c_custkey""",

    "win_range_1h_sum" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                round(sum(value) OVER
                  (PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
                                 AS BIGINT)
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2)
                  AS rolling_1h
         FROM events
         ORDER BY user_id, ts, event_id""",

    "win_cume_dist" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
                round(cume_dist() OVER (PARTITION BY c_nationkey
                                        ORDER BY c_acctbal), 4) AS cd
         FROM customer
         ORDER BY c_nationkey, c_custkey""",

    "win_analytic_mix" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
                dense_rank() OVER w AS d_rank,
                round(percent_rank() OVER w, 4) AS p_rank,
                round(first_value(c_acctbal) OVER
                  (w ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING), 2) AS top_bal,
                round(last_value(c_acctbal) OVER
                  (w ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING), 2) AS bottom_bal
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey
                      ORDER BY c_acctbal DESC, c_custkey)
         ORDER BY c_nationkey, d_rank"""
  )
}

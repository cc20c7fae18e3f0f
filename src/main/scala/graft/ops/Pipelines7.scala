package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 fourth batch — SURVEY.md §2.11i: an explicit Bloom-filter
  * join screen with its false-positive audit, a time-constrained
  * conversion funnel, audience-overlap set similarity, market-basket
  * pair mining, and share-of-total window analytics. SURVEY §2.0
  * determinism rules apply throughout.
  */
object Pipelines7 extends Module {

  def queries: Map[String, Q] = Map(
    // Bloom-filter join screen, audited: the mechanism behind Spark's
    // runtime row-group filters made explicit as a declared operator.
    // Build: k=4 md5-derived bit positions in an m=65536 space over
    // the AUTOMOBILE customer keys — the DISTINCT bit table is capped
    // at m rows NO MATTER the build cardinality, so it broadcasts at
    // any scale (the whole point of a Bloom screen: constant-size
    // summary, one-sided error). Probe: a custkey passes if all 4 of
    // its bits are set. The output audits the screen — candidate
    // orders vs exact semi-join orders vs false positives — so the
    // superset guarantee is oracle-proven, like agg_countmin_freq.
    "join_bloom_screen" -> ((s, d) => {
      val rows4 = s.range(1).select(explode(expr("sequence(0, 3)")).as("r"))
      def bitOf(keyCol: String): org.apache.spark.sql.Column =
        expr(Hashing.md5Prefix(
          s"concat(cast(r as string), ':', cast($keyCol as string))") + " % 65536")
      // Round 18 (opt, guide §2.4): the fact table was scanned THREE
      // times (distinct probe keys + the candidate count + the exact
      // count) and the segment filter twice (bloom build + exact
      // screen). The screen decision is key-level, so counting fact
      // rows only needs the per-key order count: ONE orders pass
      // builds the |custkeys|-grain (key, n) table, the probe keys
      // are its key set, and both audited counts are sums of n over
      // the passing/exact key sets. Orders scans 3 → 1, customer
      // scans 2 → 1; the counts are identical integers.
      val seg = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "AUTOMOBILE")
        .select("c_custkey")
        .localCheckpoint() // feeds the bloom build AND the exact screen
      val bloomBits = seg.crossJoin(broadcast(rows4))
        .select(bitOf("c_custkey").as("bit")).distinct()
      // Probe per DISTINCT key (15k custkeys), not per fact row: the
      // screen decision is key-level; fact rows join the verdict.
      val ocnt = Tables.orders(s, d)
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .localCheckpoint() // |custkeys|-grain; the one orders pass
      val probeKeys = ocnt
        .crossJoin(broadcast(rows4))
        .select(col("o_custkey"), bitOf("o_custkey").as("bit"))
      val passKeys = probeKeys.join(broadcast(bloomBits), Seq("bit"))
        .groupBy("o_custkey").agg(count(lit(1)).as("hits"))
        .filter(col("hits") === 4)
        .select("o_custkey")
      val nCand = ocnt
        .join(broadcast(passKeys), Seq("o_custkey"), "left_semi")
        .agg(coalesce(sum("n"), lit(0L)).as("n_candidates"))
      val nExact = ocnt
        .join(broadcast(seg), col("o_custkey") === col("c_custkey"),
              "left_semi")
        .agg(coalesce(sum("n"), lit(0L)).as("n_exact"))
      nCand.crossJoin(nExact)
        .select(col("n_candidates"), col("n_exact"),
                (col("n_candidates") - col("n_exact")).as("n_false_pos"))
    }),

    // Time-constrained conversion funnel: per user, first signup and
    // the first purchase at-or-after it within 7 days — the canonical
    // attribution query. Two per-user aggregates and one per-user
    // join; every shuffle keys on user_id. Timestamps truncate to
    // seconds first (ns-fixture parity, as events_sessionize).
    "events_conversion_lag" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
                date_trunc("second", col("ts")).as("tss"))
      // Round 18 (opt, guide §2.4): materialized once — the per-user
      // signup table fed the purchase stage AND the final join, so
      // the signup-filtered events scan + aggregate ran twice.
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("tss").as("signup_ts"))
        .localCheckpoint()
      val firstPurchase = ev.filter(col("event_type") === "purchase")
        .join(signup, Seq("user_id"))
        .filter(col("tss") >= col("signup_ts") &&
                unix_timestamp(col("tss")) -
                  unix_timestamp(col("signup_ts")) <= 7L * 86400)
        .groupBy("user_id").agg(min("tss").as("purchase_ts"))
      signup.join(firstPurchase, Seq("user_id"))
        .select(col("user_id"), col("signup_ts"), col("purchase_ts"),
                (unix_timestamp(col("purchase_ts")) -
                   unix_timestamp(col("signup_ts"))).as("lag_s"))
        .orderBy("user_id")
    }),

    // Audience overlap between event types: Jaccard similarity of the
    // user sets of each event-type pair, via a user-keyed equi-join —
    // candidate volume is Σ_user |types(user)|² (≤ 25 per user), never
    // |users|². The per-type set sizes ride in as a broadcast. This is
    // the audience-overlap / co-engagement matrix at its scalable
    // shape.
    "insta_audience_overlap" -> ((s, d) => {
      val ut = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
        .localCheckpoint() // both self-join sides reuse one dedup pass
      val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
      val inter = ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
                 col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
                             .withColumnRenamed("n", "na")), Seq("type_a"))
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
                             .withColumnRenamed("n", "nb")), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_both"),
                (round(col("n_both") /
                   (col("na") + col("nb") - col("n_both")), 4) + 0.0)
                  .as("jaccard"))
        .orderBy("type_a", "type_b")
    }),

    // Market-basket pair mining: co-occurring part pairs within an
    // order, counted and ranked — the association-rule support stage.
    // Round 18 (opt): pairs are generated PER ORDER from the order's
    // sorted distinct part set (collect_set + an indexed-transform
    // pair explode), not by the r7 distinct→checkpoint→self-join —
    // the pair multiset is identical (sorted-set i<j enumeration ≡
    // a.partkey < b.partkey join), but the plan drops from four
    // fact-scale exchanges + a materialization (distinct, checkpoint
    // write, both self-join sides) to TWO: one groupBy(l_orderkey),
    // one pair aggregate. Baskets are bounded (~4 lines/order here, ≤
    // a few hundred in any sane order fact), so the per-row pair
    // arrays stay tiny and the Σ|basket|² pair volume reaching the
    // second exchange is unchanged. Top-100 with full tiebreak
    // (count desc, then both part keys) keeps the cut deterministic
    // through the count-tie plateau.
    "orders_basket_pairs" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .select(explode(expr(
          """flatten(transform(parts, (p, i) ->
               transform(slice(parts, i + 2, size(parts) - i - 1),
                         q -> struct(p AS part_a, q AS part_b))))"""))
          .as("pr"))
        .groupBy(col("pr.part_a").as("part_a"),
                 col("pr.part_b").as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(desc("n_orders"), asc("part_a"), asc("part_b"))
        .limit(100)
    }),

    // Share-of-total analytics: nation revenue as a share of its
    // region's total — an aggregate-then-window pattern where the
    // window runs over the AGGREGATED 25-row table, not the fact.
    // Revenue is decimal-summed (exact), the share divides the
    // already-rounded doubles, and the region total via a window
    // partitioned by region never moves fact-scale data.
    "agg_share_of_total" -> ((s, d) => {
      val nat = broadcast(Tables.nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey"))
      val reg = broadcast(Tables.region(s, d)
        .select("r_regionkey", "r_name"))
      val natRev = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
                .select("c_custkey", "c_nationkey")),
              col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(col("o_totalprice").cast("decimal(30,10)")), 2)
               .cast("double").as("revenue"))
      natRev
        .withColumn("region_total",
          round(sum("revenue").over(Window.partitionBy("r_name")), 2) + 0.0)
        .select(col("r_name"), col("n_name"), col("revenue"),
                col("region_total"),
                (round(col("revenue") / col("region_total"), 4) + 0.0)
                  .as("share"))
        .orderBy("r_name", "n_name")
    })
  )

  def oracles: Map[String, String] = Map(
    "join_bloom_screen" ->
      """WITH rows_ AS (SELECT unnest(range(0, 4)) AS r),
         seg AS (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
         ),
         bloombits AS (
           SELECT DISTINCT
                  CAST(('0x' || substring(md5(CAST(r AS VARCHAR) || ':' ||
                          CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 65536 AS bit
           FROM seg CROSS JOIN rows_
         ),
         probekeys AS (
           SELECT o_custkey,
                  CAST(('0x' || substring(md5(CAST(r AS VARCHAR) || ':' ||
                          CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 65536 AS bit
           FROM (SELECT DISTINCT o_custkey FROM orders) CROSS JOIN rows_
         ),
         passkeys AS (
           SELECT o_custkey FROM probekeys JOIN bloombits USING (bit)
           GROUP BY o_custkey HAVING count(*) = 4
         ),
         cand AS (
           SELECT count(*) AS n_candidates FROM orders
           WHERE o_custkey IN (SELECT o_custkey FROM passkeys)
         ),
         ex AS (
           SELECT count(*) AS n_exact FROM orders
           WHERE o_custkey IN (SELECT c_custkey FROM seg)
         )
         SELECT n_candidates, n_exact,
                n_candidates - n_exact AS n_false_pos
         FROM cand CROSS JOIN ex""",

    "events_conversion_lag" ->
      """WITH e AS (
           SELECT user_id, event_type, date_trunc('second', ts) AS tss
           FROM events
         ),
         signup AS (
           SELECT user_id, min(tss) AS signup_ts
           FROM e WHERE event_type = 'signup' GROUP BY user_id
         ),
         fp AS (
           SELECT e.user_id, min(e.tss) AS purchase_ts
           FROM e JOIN signup USING (user_id)
           WHERE e.event_type = 'purchase' AND e.tss >= signup_ts
             AND date_diff('second', signup_ts, e.tss) <= 7 * 86400
           GROUP BY e.user_id
         )
         SELECT user_id, signup_ts, purchase_ts,
                CAST(date_diff('second', signup_ts, purchase_ts) AS BIGINT)
                  AS lag_s
         FROM signup JOIN fp USING (user_id)
         ORDER BY user_id""",

    "insta_audience_overlap" ->
      """WITH ut AS (
           SELECT DISTINCT user_id, event_type FROM events
         ),
         sizes AS (
           SELECT event_type, count(*) AS n FROM ut GROUP BY event_type
         ),
         inter AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  count(*) AS n_both
           FROM ut a JOIN ut b ON a.user_id = b.user_id
                             AND a.event_type < b.event_type
           GROUP BY type_a, type_b
         )
         SELECT type_a, type_b, n_both,
                round(n_both / (sa.n + sb.n - n_both), 4) + 0.0 AS jaccard
         FROM inter
         JOIN sizes sa ON sa.event_type = type_a
         JOIN sizes sb ON sb.event_type = type_b
         ORDER BY type_a, type_b""",

    "orders_basket_pairs" ->
      """WITH lp AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
         )
         SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                count(*) AS n_orders
         FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                            AND a.l_partkey < b.l_partkey
         GROUP BY part_a, part_b
         ORDER BY n_orders DESC, part_a, part_b
         LIMIT 100""",

    "agg_share_of_total" ->
      """WITH natrev AS (
           SELECT r_name, n_name,
                  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2)
                       AS DOUBLE) AS revenue
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name, n_name
         )
         SELECT r_name, n_name, revenue,
                round(sum(revenue) OVER (PARTITION BY r_name), 2) + 0.0
                  AS region_total,
                round(revenue / (round(sum(revenue)
                        OVER (PARTITION BY r_name), 2) + 0.0), 4) + 0.0
                  AS share
         FROM natrev
         ORDER BY r_name, n_name"""
  )
}

package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 first batch — SURVEY.md §2.11n: the lang-ID confusion
  * audit (every heuristic ships its measured error), corpus-mixture
  * divergence (per-source KL), a Zipf rank-frequency fit, modal
  * aggregates, discrete gap quantiles, weekly stickiness, nth_value
  * window frames, and a strict ordered conversion funnel.
  * SURVEY §2.0 determinism rules apply throughout: integer-derived
  * doubles, explicit tiebreaks, round+0.0 on every float output.
  */
object Pipelines12 extends Module {

  def queries: Map[String, Q] = Map(
    // Confusion matrix of the n-gram language-ID heuristic against
    // the labeled lang column — the audit twin of llm_lang_id, in the
    // measured-error family (count-min, Bloom, MinHash, LSH recall).
    // Reuses the production scorer verbatim (an audit of a lookalike
    // measures nothing), then one uniform aggregate over ≤25 cells;
    // the share window runs over the AGGREGATE, never the corpus.
    "llm_lang_confusion" -> ((s, d) => {
      val pred = LlmScale.queries("llm_lang_id")(s, d)
      pred.groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("recall_share",
          round(col("n_docs") /
                  sum("n_docs").over(Window.partitionBy("lang")), 4) + 0.0)
        .orderBy("lang", "pred_lang")
    }),

    // Per-source KL divergence from the corpus unigram distribution —
    // the mixture-shift measurement behind data-mixing decisions
    // (which sources deviate from the blend they're diluted into).
    // KL_s = ln(N/n_s) + (Σ_t c_st·ln(c_st/c_t))/n_s : every term an
    // integer count or a log of an integer ratio, so both engines
    // compute bit-identical terms; only the (rounded) Σ order differs.
    // Shape: one token-explode aggregate keyed (source, tok), then
    // vocab-sized and source-sized side tables broadcast back — the
    // fact table never shuffles twice.
    "llm_source_kl" -> ((s, d) => {
      val st = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
        .localCheckpoint() // three aggregates below derive from it
      // Round 18 (opt, guide §2.4): the corpus total was a scalar
      // aggregate OVER srcTot, and the un-materialized srcTot subtree
      // was then evaluated twice (once in the broadcast join, once
      // under the total) — two source-total passes over the
      // checkpoint. A global-sum window over the |sources|-row
      // aggregate (the blessed windows-over-aggregates shape) derives
      // the same total from the one pass. Values identical.
      val srcTot = st.groupBy("source").agg(sum("c_st").as("n_s"))
        .withColumn("n_corpus", sum("n_s").over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      val tokTot = st.groupBy("tok").agg(sum("c_st").as("c_t"))
      st.join(broadcast(tokTot), Seq("tok"))
        .join(broadcast(srcTot), Seq("source"))
        .groupBy("source")
        .agg(max("n_s").as("n_tokens"),
             (round(
                log(max("n_corpus") / max("n_s")) +
                sum(col("c_st") * log(col("c_st") / col("c_t"))) /
                  max("n_s"), 4) + 0.0).as("kl"))
        .orderBy("source")
    }),

    // Zipf rank-frequency fit: OLS slope/intercept of ln(freq) over
    // ln(rank) across the whole vocabulary — the standard corpus
    // sanity check (natural text ≈ slope −1). The rank window and the
    // moment sums run over the VOCAB-sized aggregate (SCALE.md §14:
    // global windows only over aggregates); closed-form OLS from the
    // five moment sums, the same expression shape in both engines.
    "llm_zipf_fit" -> ((s, d) => {
      val freq = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val slopeExpr = (col("n_vocab") * col("sxy") - col("sx") * col("sy")) /
        (col("n_vocab") * col("sxx") - col("sx") * col("sx"))
      freq
        .withColumn("rk", row_number().over(
          Window.orderBy(col("freq").desc, col("tok").asc)))
        .select(log(col("rk").cast("double")).as("x"),
                log(col("freq").cast("double")).as("y"))
        .agg(count(lit(1)).as("n_vocab"), sum("x").as("sx"),
             sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
             sum(col("x") * col("x")).as("sxx"))
        .select(col("n_vocab"),
                (round(slopeExpr, 4) + 0.0).as("slope"),
                (round((col("sy") - slopeExpr * col("sx")) /
                         col("n_vocab"), 4) + 0.0).as("intercept"))
    }),

    // Modal order priority per market segment: the mode aggregate via
    // count + deterministic rank (ties break lexicographically —
    // max_by/arg_max tie handling is engine-defined, so the declared
    // form is the windowed one). No broadcast HINT on customer: at
    // fixture scale Spark broadcasts it on size, but customer is a
    // growing dim (15 M rows at TPC-H SF100) — forcing the hint would
    // OOM a real cluster, so the planner keeps the decision. The rank
    // window runs over the 25-row aggregate.
    "agg_mode_priority" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d),
              col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("c_mktsegment")
            .orderBy(col("n_orders").desc, col("o_orderpriority").asc)))
        .filter(col("rk") === 1)
        .select(col("c_mktsegment"),
                col("o_orderpriority").as("mode_priority"),
                col("n_orders"))
        .orderBy("c_mktsegment")),

    // Inter-event gap quantiles per event type: lag windows partition
    // by (user_id, event_type) — uniform keys, nothing corpus-global —
    // then DISCRETE quantiles over integer µs gaps. The discrete pick
    // is computed EXPLICITLY on both sides (row_number over the sorted
    // gaps, select the element at rank ceil(p·n), with ceil done in
    // integer arithmetic: (n+1) div 2 and (9n+9) div 10) rather than
    // trusting percentile_disc/quantile_disc to share an index rule —
    // the engines' native rules were only empirically aligned, and the
    // explicit form is identical by construction. The rank value is
    // deterministic under ties (equal values at the boundary yield the
    // same picked value whatever the tie order). The ranking window
    // partitions on event_type — a bounded-cardinality enum (~6 values
    // at any SF), so the per-partition sort is the same cost any exact
    // discrete quantile pays; at 100 TB waive exactness to
    // approx_percentile (audited pattern: agg_approx_quantile).
    "events_gap_quantiles" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("graft_ev_gap")
      s.sql("""WITH g AS (
                 SELECT event_type,
                        unix_micros(ts) - lag(unix_micros(ts)) OVER
                          (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS gap_us
                 FROM graft_ev_gap
               ),
               r AS (
                 SELECT event_type, gap_us,
                        row_number() OVER
                          (PARTITION BY event_type ORDER BY gap_us) AS rk,
                        count(*) OVER
                          (PARTITION BY event_type) AS n
                 FROM g WHERE gap_us IS NOT NULL
               )
               SELECT event_type, max(n) AS n_gaps,
                      max(CASE WHEN rk = (n + 1) div 2 THEN gap_us END)
                        AS p50_gap_us,
                      max(CASE WHEN rk = (9 * n + 9) div 10 THEN gap_us END)
                        AS p90_gap_us
               FROM r GROUP BY event_type ORDER BY event_type""")
    }),

    // Weekly stickiness (avg DAU / WAU): engagement concentration per
    // week. Weeks come from integer epoch-day arithmetic —
    // (epoch_day+3) div 7 starts weeks on Monday — because native
    // week()/weekofyear() conventions differ between engines. Exact
    // distinct counts at two grains; both aggregates key on the week
    // (uniform); at 100 TB swap countDistinct for HLL sketch-merge
    // (the audited approx_distinct pattern) if exactness is waived.
    "events_stickiness" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        expr("(unix_date(to_date(ts)) + 3) div 7").as("week_idx"),
        expr("unix_date(to_date(ts))").as("day_idx"),
        col("user_id"))
      val daily = ev.groupBy("week_idx", "day_idx")
        .agg(countDistinct("user_id").as("dau"))
        .groupBy("week_idx")
        .agg(count(lit(1)).as("n_days"), sum("dau").as("dau_sum"))
      val weekly = ev.groupBy("week_idx")
        .agg(countDistinct("user_id").as("wau"))
      daily.join(weekly, Seq("week_idx"))
        .select(col("week_idx"), col("n_days"), col("dau_sum"), col("wau"),
                (round(col("dau_sum") / (col("n_days") * col("wau")), 4)
                   + 0.0).as("stickiness"))
        .orderBy("week_idx")
    }),

    // nth_value + explicit ROWS frames: second-highest balance per
    // nation (full frame — nth_value defaults exclude rows after
    // CURRENT) beside a trailing 3-row moving average. Every output
    // value is INTEGER CENTS — acctbal is 2-dec fixture money, so
    // round(x*100) recovers the exact integer; the trailing mean is
    // rounded in integer space ((2·sum+n) div 2n — half-up for
    // non-negative sums; for a negative sum both engines' div
    // truncates toward zero, which makes it round half toward +inf,
    // so the value is identical cross-engine either way — that
    // engine-parity, not a universal half-up claim, is the
    // invariant), and nth_value over a 1-row frame
    // (single-supplier nations) is NULL → coalesce to -1 so no
    // nullable double (or any double) ever reaches the comparator —
    // NULL-double canonicalization was the only cross-engine hash
    // divergence in round 6.
    "win_nth_value_frames" -> ((s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("graft_supp_nth")
      s.sql("""WITH c AS (
                 SELECT s_suppkey, s_nationkey, s_acctbal,
                        CAST(round(s_acctbal * 100) AS BIGINT) AS cents
                 FROM graft_supp_nth
               ),
               w AS (
                 SELECT s_suppkey, s_nationkey, cents,
                        nth_value(cents, 2) OVER
                          (PARTITION BY s_nationkey
                           ORDER BY cents DESC, s_suppkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING)
                          AS sh,
                        sum(cents) OVER
                          (PARTITION BY s_nationkey
                           ORDER BY cents DESC, s_suppkey
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                          AS sc,
                        count(*) OVER
                          (PARTITION BY s_nationkey
                           ORDER BY cents DESC, s_suppkey
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                          AS n
                 FROM c
               )
               SELECT s_suppkey, s_nationkey, cents AS acctbal_cents,
                      coalesce(sh, -1) AS second_highest_cents,
                      ((2 * sc + n) div (2 * n)) AS trail3_avg_cents
               FROM w
               ORDER BY s_nationkey, cents DESC, s_suppkey""")
    }),

    // Strict ordered funnel signup → click → purchase: each stage's
    // first event must fall AFTER the previous stage's first event
    // (the unordered-funnel keys count mere co-presence). Three
    // per-user aggregates chained by user_id-keyed joins — every
    // shuffle uniform on user_id; stage counts land as three 1-row
    // frames cross-joined (broadcast), never a collect.
    "events_funnel_ordered" -> ((s, d) => {
      // Round 18 (opt, guide §2.4): each stage frame fed BOTH the next
      // stage's build and its own count as an un-materialized subtree,
      // so the chain re-evaluated per consumer — six event scans and
      // three stage joins per invocation (n1 ran s1; n2 ran s1+s2; n3
      // ran s1+s2+s3). Checkpointing the user-grain stage frames (two
      // narrow columns each) runs each stage once: event scans 6 → 3
      // (one per stage filter, the minimum — each stage must see its
      // own slice), joins 3 → 2. Values identical.
      val ev = Tables.events(s, d)
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t1"))
        .localCheckpoint()
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
        .localCheckpoint()
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val n1 = s1.agg(count(lit(1)).as("n_signup"))
      val n2 = s2.agg(count(lit(1)).as("n_click_after"))
      val n3 = s3.agg(count(lit(1)).as("n_purchase_after"))
      n1.crossJoin(broadcast(n2)).crossJoin(broadcast(n3))
        .select(col("n_signup"), col("n_click_after"),
                col("n_purchase_after"),
                (round(col("n_click_after") / col("n_signup"), 4) + 0.0)
                  .as("r_click"),
                (round(col("n_purchase_after") / col("n_signup"), 4) + 0.0)
                  .as("r_purchase"))
    })
  )

  def oracles: Map[String, String] = Map(
    "llm_lang_confusion" ->
      s"""WITH base AS (${LlmScale.oracles("llm_lang_id")})
         SELECT lang, pred_lang, count(*) AS n_docs,
                round(count(*) / sum(count(*))
                        OVER (PARTITION BY lang), 4) + 0.0 AS recall_share
         FROM base GROUP BY lang, pred_lang
         ORDER BY lang, pred_lang""",

    "llm_source_kl" ->
      """WITH toks AS (
           SELECT source, unnest(string_split(text, ' ')) AS tok
           FROM documents
         ),
         st AS (
           SELECT source, tok, count(*) AS c_st
           FROM toks GROUP BY source, tok
         ),
         srct AS (
           SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
           FROM st GROUP BY source
         ),
         tokt AS (
           SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t
           FROM st GROUP BY tok
         ),
         tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_corpus FROM srct)
         SELECT source, n_s AS n_tokens,
                round(ln(n_corpus / n_s) +
                      sum(c_st * ln(c_st / c_t)) / n_s, 4) + 0.0 AS kl
         FROM st JOIN tokt USING (tok) JOIN srct USING (source)
              CROSS JOIN tot
         GROUP BY source, n_s, n_corpus
         ORDER BY source""",

    "llm_zipf_fit" ->
      """WITH f AS (
           SELECT tok, count(*) AS freq
           FROM (SELECT unnest(string_split(text, ' ')) AS tok
                 FROM documents)
           GROUP BY tok
         ),
         r AS (
           SELECT freq,
                  row_number() OVER (ORDER BY freq DESC, tok ASC) AS rk
           FROM f
         ),
         s AS (
           SELECT count(*) AS n_vocab,
                  sum(ln(rk)) AS sx, sum(ln(freq)) AS sy,
                  sum(ln(rk) * ln(freq)) AS sxy,
                  sum(ln(rk) * ln(rk)) AS sxx
           FROM r
         )
         SELECT n_vocab,
                round((n_vocab * sxy - sx * sy) /
                      (n_vocab * sxx - sx * sx), 4) + 0.0 AS slope,
                round((sy - (n_vocab * sxy - sx * sy) /
                            (n_vocab * sxx - sx * sx) * sx) /
                      n_vocab, 4) + 0.0 AS intercept
         FROM s""",

    "agg_mode_priority" ->
      """WITH cnt AS (
           SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_mktsegment, o_orderpriority
         ),
         r AS (
           SELECT *, row_number() OVER
                    (PARTITION BY c_mktsegment
                     ORDER BY n_orders DESC, o_orderpriority ASC) AS rk
           FROM cnt
         )
         SELECT c_mktsegment, o_orderpriority AS mode_priority, n_orders
         FROM r WHERE rk = 1 ORDER BY c_mktsegment""",

    "events_gap_quantiles" ->
      """WITH g AS (
           SELECT event_type,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS gap_us
           FROM events
         ),
         r AS (
           SELECT event_type, gap_us,
                  row_number() OVER
                    (PARTITION BY event_type ORDER BY gap_us) AS rk,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM g WHERE gap_us IS NOT NULL
         )
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
                CAST(max(CASE WHEN rk = (n + 1) // 2 THEN gap_us END)
                     AS BIGINT) AS p50_gap_us,
                CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN gap_us END)
                     AS BIGINT) AS p90_gap_us
         FROM r GROUP BY event_type ORDER BY event_type""",

    "events_stickiness" ->
      """WITH ev AS (
           SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   + 3) // 7 AS week_idx,
                  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS day_idx,
                  user_id
           FROM events
         ),
         daily AS (
           SELECT week_idx, count(*) AS n_days,
                  CAST(sum(dau) AS BIGINT) AS dau_sum
           FROM (SELECT week_idx, day_idx,
                        count(DISTINCT user_id) AS dau
                 FROM ev GROUP BY week_idx, day_idx)
           GROUP BY week_idx
         ),
         weekly AS (
           SELECT week_idx, count(DISTINCT user_id) AS wau
           FROM ev GROUP BY week_idx
         )
         SELECT week_idx, n_days, dau_sum, wau,
                round(dau_sum / (n_days * wau), 4) + 0.0 AS stickiness
         FROM daily JOIN weekly USING (week_idx)
         ORDER BY week_idx""",

    "win_nth_value_frames" ->
      """WITH c AS (
           SELECT s_suppkey, s_nationkey,
                  CAST(round(s_acctbal * 100) AS BIGINT) AS cents
           FROM supplier
         ),
         w AS (
           SELECT s_suppkey, s_nationkey, cents,
                  nth_value(cents, 2) OVER
                    (PARTITION BY s_nationkey
                     ORDER BY cents DESC, s_suppkey
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING) AS sh,
                  CAST(sum(cents) OVER
                    (PARTITION BY s_nationkey
                     ORDER BY cents DESC, s_suppkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sc,
                  count(*) OVER
                    (PARTITION BY s_nationkey
                     ORDER BY cents DESC, s_suppkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n
           FROM c
         )
         SELECT s_suppkey, s_nationkey, cents AS acctbal_cents,
                coalesce(sh, -1) AS second_highest_cents,
                CAST((2 * sc + n) // (2 * n) AS BIGINT) AS trail3_avg_cents
         FROM w
         ORDER BY s_nationkey, cents DESC, s_suppkey""",

    "events_funnel_ordered" ->
      """WITH s1 AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'signup' GROUP BY user_id
         ),
         s2 AS (
           SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > t1
           GROUP BY e.user_id
         ),
         s3 AS (
           SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > t2
           GROUP BY e.user_id
         )
         SELECT (SELECT count(*) FROM s1) AS n_signup,
                (SELECT count(*) FROM s2) AS n_click_after,
                (SELECT count(*) FROM s3) AS n_purchase_after,
                round((SELECT count(*) FROM s2) /
                      (SELECT count(*) FROM s1), 4) + 0.0 AS r_click,
                round((SELECT count(*) FROM s3) /
                      (SELECT count(*) FROM s1), 4) + 0.0 AS r_purchase"""
  )
}

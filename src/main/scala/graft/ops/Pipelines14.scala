package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 third batch — SURVEY.md §2.11p: exact-moment higher-order
  * statistics, per-source duplication profiling, an n-gram diversity
  * (compression-proxy) quality filter, a multi-measure pivot, cohort
  * LTV curves, and a tolerance-bounded as-of join. SURVEY §2.0
  * determinism rules apply: moments and counts are exact integers,
  * float formulas share identical expression shape across engines,
  * every output float is round(...)+0.0.
  */
object Pipelines14 extends Module {

  def queries: Map[String, Q] = Map(
    // Skewness / excess kurtosis per return flag from EXACT integer
    // raw moments (l_quantity is integer-valued 1..50, so n,Σq,Σq²,
    // Σq³,Σq⁴ are exact bigints — q⁴·|group| ≈ 4·10¹² stays far under
    // i64). Built-in skewness()/kurtosis() accumulate central moments
    // in floats whose partial-merge order differs between engines;
    // the raw-moment formula makes both engines evaluate the SAME
    // doubles. One map-side-combinable aggregate over the fact table.
    "agg_skew_kurt_exact" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
                col("l_quantity").cast("long").as("q"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("q").as("s1"),
             sum(col("q") * col("q")).as("s2"),
             sum(col("q") * col("q") * col("q")).as("s3"),
             sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
        .select(col("l_returnflag"), col("n"),
          (round(
            (col("s3") / col("n") -
             lit(3.0) * (col("s1") / col("n")) * (col("s2") / col("n")) +
             lit(2.0) * (col("s1") / col("n")) * (col("s1") / col("n")) *
               (col("s1") / col("n"))) /
            pow(col("s2") / col("n") -
                (col("s1") / col("n")) * (col("s1") / col("n")), 1.5),
            4) + 0.0).as("skew"),
          (round(
            (col("s4") / col("n") -
             lit(4.0) * (col("s1") / col("n")) * (col("s3") / col("n")) +
             lit(6.0) * (col("s1") / col("n")) * (col("s1") / col("n")) *
               (col("s2") / col("n")) -
             lit(3.0) * (col("s1") / col("n")) * (col("s1") / col("n")) *
               (col("s1") / col("n")) * (col("s1") / col("n"))) /
            ((col("s2") / col("n") -
              (col("s1") / col("n")) * (col("s1") / col("n"))) *
             (col("s2") / col("n") -
              (col("s1") / col("n")) * (col("s1") / col("n")))) -
            lit(3.0), 4) + 0.0).as("excess_kurtosis"))
        .orderBy("l_returnflag")),

    // Per-source duplication profile: the fraction of each source's
    // documents whose exact content hash occurs more than once
    // corpus-wide — the first number a curation run reports per feed.
    // Hash-count table keyed on md5 (uniform shuffle key), joined
    // back, per-source conditional aggregate.
    "llm_doc_dup_ratio" -> ((s, d) => {
      val h = Tables.documents(s, d)
        .select(col("source"), md5(col("text").cast("binary")).as("h"))
      val cnt = h.groupBy("h").agg(count(lit(1)).as("n_h"))
      h.join(cnt, Seq("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("n_h") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
        .withColumn("dup_ratio",
          round(col("n_dup_docs") / col("n_docs"), 4) + 0.0)
        .orderBy("source")
    }),

    // N-gram diversity (compression-ratio proxy): distinct-4gram to
    // total-4gram ratio per document — the deterministic stand-in for
    // the zlib-compressibility quality filters (Gopher/C4 style):
    // low diversity ⟺ highly compressible ⟺ boilerplate/repetition.
    // Entirely ROW-LOCAL (transform over the token array, no explode,
    // no shuffle before the output sort) — at 100 TB this is a pure
    // map stage.
    "llm_gram_diversity" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 4)
        .select(col("doc_id"),
                expr("""transform(sequence(1, size(ts) - 3),
                          i -> concat_ws(' ', slice(ts, i, 4)))""")
                  .as("grams"))
        .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
                size(array_distinct(col("grams"))).cast("long")
                  .as("n_distinct"))
        .withColumn("diversity",
          round(col("n_distinct") / col("n_grams"), 4) + 0.0)
        .withColumn("is_repetitive", col("diversity") < 0.55)
        .orderBy("doc_id")),

    // Multi-measure pivot: per-day event counts AND value sums per
    // type in one pass — the general pivot shape (pivot_event_types
    // is single-measure). Explicit value list keeps the plan static
    // (no distinct-scan to discover columns); decimal-cast sums for
    // order-independent rounding.
    "pivot_multi_agg" -> ((s, d) =>
      Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("event_type"),
                col("value"))
        .groupBy("day")
        .pivot("event_type", Seq("click", "purchase", "view"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("value").cast("decimal(30,10)")), 2)
               .cast("double").as("v"))
        .select(col("day"),
                coalesce(col("click_n"), lit(0L)).as("click_n"),
                coalesce(col("click_v"), lit(0.0)).as("click_v"),
                coalesce(col("purchase_n"), lit(0L)).as("purchase_n"),
                coalesce(col("purchase_v"), lit(0.0)).as("purchase_v"),
                coalesce(col("view_n"), lit(0L)).as("view_n"),
                coalesce(col("view_v"), lit(0.0)).as("view_v"))
        .orderBy("day")),

    // Cohort LTV curves: cumulative purchase revenue by signup-week
    // cohort and week offset. Weeks via integer epoch-day arithmetic
    // (Monday-started, the events_stickiness convention); revenue
    // decimal-cast; the cumulative window runs over the
    // (cohorts × offsets)-row AGGREGATE, never the fact table.
    "events_cohort_ltv" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_type"), col("value"),
        expr("(unix_date(to_date(ts)) + 3) div 7").as("week_idx"))
      val cohort = ev.groupBy("user_id")
        .agg(min("week_idx").as("cohort_week"))
      val rev = ev.filter(col("event_type") === "purchase")
        .join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"),
                 (col("week_idx") - col("cohort_week")).as("week_offset"))
        .agg(round(sum(col("value").cast("decimal(30,10)")), 2)
               .cast("double").as("revenue"))
      rev.withColumn("cum_revenue",
          round(sum("revenue").over(
            Window.partitionBy("cohort_week").orderBy("week_offset")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)),
            2) + 0.0)
        .orderBy("cohort_week", "week_offset")
    }),

    // As-of join with tolerance: each purchase matched to the user's
    // most recent signup, but only within a 24-hour window — the
    // bounded-staleness variant (market-data as-of joins, feature
    // freshness constraints). Same running-max window formulation as
    // join_asof (uniform user_id partitions); the tolerance is a
    // row-local integer µs comparison after the window.
    "join_asof_tolerance" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"),
                col("event_type"))
        .withColumn("last_signup_ts",
          max(when(col("event_type") === "signup", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("asof_signup_ts",
          when(expr("unix_micros(ts) - unix_micros(last_signup_ts)") <=
                 86400L * 1000000L, col("last_signup_ts")))
        .select(col("user_id"), col("event_id").as("purchase_id"),
                col("ts").as("purchase_ts"), col("asof_signup_ts"))
        .orderBy("user_id", "purchase_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "agg_skew_kurt_exact" ->
      """WITH m AS (
           SELECT l_returnflag, count(*) AS n,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
                  CAST(sum(CAST(l_quantity AS BIGINT) *
                           CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
                  CAST(sum(CAST(l_quantity AS BIGINT) *
                           CAST(l_quantity AS BIGINT) *
                           CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
                  CAST(sum(CAST(l_quantity AS BIGINT) *
                           CAST(l_quantity AS BIGINT) *
                           CAST(l_quantity AS BIGINT) *
                           CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
           FROM lineitem GROUP BY l_returnflag
         )
         SELECT l_returnflag, n,
                round((s3 / n - 3.0 * (s1 / n) * (s2 / n) +
                       2.0 * (s1 / n) * (s1 / n) * (s1 / n)) /
                      pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 4) + 0.0
                  AS skew,
                round((s4 / n - 4.0 * (s1 / n) * (s3 / n) +
                       6.0 * (s1 / n) * (s1 / n) * (s2 / n) -
                       3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) /
                      ((s2 / n - (s1 / n) * (s1 / n)) *
                       (s2 / n - (s1 / n) * (s1 / n))) - 3.0, 4) + 0.0
                  AS excess_kurtosis
         FROM m ORDER BY l_returnflag""",

    "llm_doc_dup_ratio" ->
      """WITH h AS (SELECT source, md5(text) AS h FROM documents),
         cnt AS (SELECT h, count(*) AS n_h FROM h GROUP BY h)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN n_h > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_docs,
                round(sum(CASE WHEN n_h > 1 THEN 1 ELSE 0 END) /
                      count(*), 4) + 0.0 AS dup_ratio
         FROM h JOIN cnt USING (h)
         GROUP BY source ORDER BY source""",

    "llm_gram_diversity" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         ),
         g AS (
           SELECT doc_id,
                  list_transform(range(1, len(ts) - 2),
                    i -> array_to_string(ts[i:i+3], ' ')) AS grams
           FROM t WHERE len(ts) >= 4
         )
         SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
                CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
                round(len(list_distinct(grams)) / len(grams), 4) + 0.0
                  AS diversity,
                (round(len(list_distinct(grams)) / len(grams), 4) + 0.0)
                  < 0.55 AS is_repetitive
         FROM g ORDER BY doc_id""",

    "pivot_multi_agg" ->
      """SELECT CAST(ts AS DATE) AS day,
                count(CASE WHEN event_type = 'click' THEN 1 END)
                  AS click_n,
                coalesce(round(sum(CASE WHEN event_type = 'click'
                                        THEN value END), 2), 0.0)
                  AS click_v,
                count(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS purchase_n,
                coalesce(round(sum(CASE WHEN event_type = 'purchase'
                                        THEN value END), 2), 0.0)
                  AS purchase_v,
                count(CASE WHEN event_type = 'view' THEN 1 END)
                  AS view_n,
                coalesce(round(sum(CASE WHEN event_type = 'view'
                                        THEN value END), 2), 0.0)
                  AS view_v
         FROM events GROUP BY day ORDER BY day""",

    "events_cohort_ltv" ->
      """WITH ev AS (
           SELECT user_id, event_type, value,
                  (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   + 3) // 7 AS week_idx
           FROM events
         ),
         cohort AS (
           SELECT user_id, min(week_idx) AS cohort_week
           FROM ev GROUP BY user_id
         ),
         rev AS (
           SELECT cohort_week, week_idx - cohort_week AS week_offset,
                  round(sum(value), 2) AS revenue
           FROM ev JOIN cohort USING (user_id)
           WHERE event_type = 'purchase'
           GROUP BY cohort_week, week_offset
         )
         SELECT cohort_week, week_offset, revenue,
                round(sum(revenue) OVER
                  (PARTITION BY cohort_week ORDER BY week_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  2) + 0.0 AS cum_revenue
         FROM rev ORDER BY cohort_week, week_offset""",

    "join_asof_tolerance" ->
      """SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                CASE WHEN epoch_us(ts) - epoch_us(last_signup_ts)
                          <= 86400000000
                     THEN last_signup_ts END AS asof_signup_ts
         FROM (SELECT user_id, event_id, ts, event_type,
                      max(CASE WHEN event_type = 'signup' THEN ts END)
                        OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS last_signup_ts
               FROM events
               WHERE event_type IN ('signup', 'purchase'))
         WHERE event_type = 'purchase'
         ORDER BY user_id, purchase_id"""
  )
}

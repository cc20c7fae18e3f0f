package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Social/engagement composites over the events log (SURVEY.md §2.9) —
  * the reference's Instagram-analytics capability class re-expressed on
  * the `events` fixture.
  *
  * Per-type counts use `count(CASE WHEN ...)` (not `sum(CASE ...)`) on
  * both sides: DuckDB's integer SUM returns HUGEINT, which would break
  * type parity with Spark's LongType.
  */
object Social extends Module {

  def queries: Map[String, Q] = Map(
    // Flagship: per-user engagement — counts by type + total value,
    // top-20 users by activity (deterministic: count then user_id).
    "insta_engagement_by_user" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "view", 1)).as("n_view"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          count(when(col("event_type") === "signup", 1)).as("n_signup"),
          count(when(col("event_type") === "error", 1)).as("n_error"),
          round(sum("value"), 2).as("total_value"))
        .orderBy(desc("n_events"), asc("user_id"))
        .limit(20)),

    // Posting-time histogram: hour-of-day × event_type.
    "insta_hourly_activity" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(hour(col("ts")).cast("long").as("hour_of_day"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("hour_of_day", "event_type")),

    // Daily active users + daily new users (first-seen that day).
    "insta_daily_active_users" -> ((s, d) => {
      val e = Tables.events(s, d)
      val dau = e.groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val newUsers = e.groupBy("user_id").agg(min("ts").as("first_ts"))
        .groupBy(date_trunc("day", col("first_ts")).as("day"))
        .agg(count(lit(1)).as("nu"))
      dau.join(newUsers, Seq("day"), "left")
        .select(col("day"), col("dau"),
                coalesce(col("nu"), lit(0L)).as("new_users"))
        .orderBy("day")
    }),

    // Signup→purchase-within-7-days conversion per signup-day cohort.
    "insta_conversion_funnel" -> ((s, d) => {
      val e = Tables.events(s, d)
      val signups = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("signup_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      val converted = signups
        .join(purchases,
              col("user_id") === col("p_user") &&
              col("p_ts") > col("signup_ts") &&
              col("p_ts") <= col("signup_ts") + expr("INTERVAL 7 DAY"))
        .select(col("user_id")).distinct()
        .withColumn("converted", lit(1))
      signups.join(converted, Seq("user_id"), "left")
        .groupBy(date_trunc("day", col("signup_ts")).as("cohort_day"))
        .agg(count(lit(1)).as("n_signups"),
             count(col("converted")).as("n_converted"))
        .withColumn("conversion_rate",
          round(col("n_converted") * lit(1.0) / col("n_signups"), 4))
        .orderBy("cohort_day")
    }),

    // Per-source content stats over the document corpus.
    "insta_top_sources" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             round(avg("n_chars"), 2).as("avg_chars"),
             countDistinct(col("lang")).as("n_langs"))
        .orderBy("source"))
  )

  def oracles: Map[String, String] = Map(
    "insta_engagement_by_user" ->
      """SELECT user_id, count(*) AS n_events,
                count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
                count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
                count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
                count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
                count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
                round(sum(value), 2) AS total_value
         FROM events
         GROUP BY user_id
         ORDER BY n_events DESC, user_id
         LIMIT 20""",

    "insta_hourly_activity" ->
      """SELECT hour(ts) AS hour_of_day, event_type, count(*) AS n
         FROM events
         GROUP BY 1, 2
         ORDER BY hour_of_day, event_type""",

    "insta_daily_active_users" ->
      """WITH dau AS (
           SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(DISTINCT user_id) AS dau
           FROM events GROUP BY 1
         ),
         nu AS (
           SELECT CAST(date_trunc('day', first_ts) AS TIMESTAMP) AS day,
                  count(*) AS nu
           FROM (SELECT user_id, min(ts) AS first_ts FROM events
                 GROUP BY user_id)
           GROUP BY 1
         )
         SELECT dau.day AS day, dau.dau AS dau,
                coalesce(nu.nu, 0) AS new_users
         FROM dau LEFT JOIN nu ON dau.day = nu.day
         ORDER BY day""",

    "insta_conversion_funnel" ->
      """WITH su AS (
           SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS signup_ts
           FROM events WHERE event_type = 'signup'
           GROUP BY user_id
         ),
         conv AS (
           SELECT DISTINCT su.user_id
           FROM su JOIN events e
             ON e.user_id = su.user_id
            AND e.event_type = 'purchase'
            AND CAST(e.ts AS TIMESTAMP) > su.signup_ts
            AND CAST(e.ts AS TIMESTAMP) <= su.signup_ts + INTERVAL 7 DAY
         )
         SELECT CAST(date_trunc('day', signup_ts) AS TIMESTAMP)
                  AS cohort_day,
                count(*) AS n_signups,
                count(conv.user_id) AS n_converted,
                round(count(conv.user_id) * 1.0 / count(*), 4)
                  AS conversion_rate
         FROM su LEFT JOIN conv ON su.user_id = conv.user_id
         GROUP BY 1
         ORDER BY cohort_day""",

    "insta_top_sources" ->
      """SELECT source, count(*) AS n_docs,
                round(avg(n_chars), 2) AS avg_chars,
                count(DISTINCT lang) AS n_langs
         FROM documents
         GROUP BY source
         ORDER BY source"""
  )
}

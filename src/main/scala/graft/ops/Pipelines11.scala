package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 eighth batch — SURVEY.md §2.11m: the remaining social/log
  * analytics composites of the reference's nominal domain — power-user
  * concentration, session-depth distribution, bounce rate, and the
  * day-of-week × hour activity matrix. SURVEY §2.0 determinism rules
  * apply throughout.
  */
object Pipelines11 extends Module {

  /** Per-session rows (user_id, session_id, n_events, start_ts) via
    * the same 30-minute gaps-and-islands construction as
    * `events_sessionize` — duplicated here in reduced form so each
    * declared key stays a self-contained plan (the oracle mirrors the
    * full derivation either way).
    */
  private def sessions(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy("user_id").orderBy(asc("tss"), asc("event_id"))
    val run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
              date_trunc("second", col("ts")).as("tss"))
      .withColumn("gap",
        unix_timestamp(col("tss")) - unix_timestamp(lag("tss", 1).over(wo)))
      .withColumn("brk",
        when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum("brk").over(run).cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("tss").as("start_ts"))
  }

  def queries: Map[String, Q] = Map(
    // Power-user concentration: the top ⌈1%⌉ users by event count and
    // the share of ALL events they generate — the heavy-hitter skew
    // number every social workload report leads with. The per-user
    // aggregate is the only fact-scale shuffle.
    //
    // Round 18 (opt, guide §2.2 — the drift-audit bounded-histogram
    // decile pattern applied to a rank cut): the retired form ranked
    // with row_number() OVER (ORDER BY n_events DESC, user_id) — a
    // SINGLE-PARTITION sort of all |users| rows (the top-1% limit is
    // data-dependent, so no WindowGroupLimit/TakeOrdered bound
    // applies). The rank decomposes exactly as
    //   rk(u) = cum_before(n_events(u)) + rank of u's user_id within
    //           its n_events tie group,
    // so: (1) a (n_events → user count) HISTOGRAM aggregate
    // (|distinct counts| rows, tiny under the heavy-tailed count
    // distribution) carries the running cum_before and the corpus
    // totals as windows OVER THE AGGREGATE; (2) only the values whose
    // rank range intersects [1, k] join back (inner join on n_events
    // drops every user below the cut before any sort); (3) the
    // user_id tie-break sorts WITHIN each surviving value group —
    // parallel across values, never a global sort. Values and the cut
    // are bit-identical (integer counts, total order (n_events desc,
    // user_id asc) preserved); UserRankProbe A/Bs both forms (5 M
    // users: 3.51 s retired vs 1.06 s, 0 mismatches; the all-ties
    // adversarial case degrades gracefully to ~1.1× of retired) and
    // Round18Spec pins row equality. Fact passes unchanged at two
    // (histogram branch + join-back branch, exactly the retired
    // form's uc + tot pair).
    "insta_power_users" -> ((s, d) => {
      val uc = Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      val wv = Window.orderBy(desc("n_events"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val histX = uc.groupBy("n_events").agg(count(lit(1)).as("cnt"))
        .withColumn("cum_before", sum("cnt").over(wv) - col("cnt"))
        .withColumn("n_users", sum("cnt").over(wAll))
        .withColumn("n_total",
          sum(col("n_events") * col("cnt")).over(wAll))
        .withColumn("k", greatest(lit(1L), expr("n_users div 100")))
        .filter(col("cum_before") < col("k"))
        .select("n_events", "cum_before", "k", "n_total")
      val wt = Window.partitionBy("n_events").orderBy(asc("user_id"))
      uc.join(histX, Seq("n_events"))
        .withColumn("rk",
          (col("cum_before") + row_number().over(wt)).cast("long"))
        .filter(col("rk") <= col("k"))
        .select(col("rk"), col("user_id"), col("n_events"),
                (round(col("n_events") / col("n_total"), 4) + 0.0)
                  .as("share"))
        .orderBy("rk")
    }),

    // Session-depth distribution: how many sessions contain 1, 2, …,
    // 10+ events — the engagement-depth histogram. Sessionization is
    // per-user windows (uniform key); the histogram aggregate is
    // bucket-keyed, ≤ 10 rows.
    "insta_session_depth" -> ((s, d) =>
      sessions(s, d)
        .select(least(col("n_events"), lit(10L)).as("depth_bucket"))
        .groupBy("depth_bucket")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("depth_bucket")),

    // Bounce rate per day: single-event sessions over total sessions,
    // keyed by the session's start day. Both counts are exact longs;
    // the rate divides them once, rounded.
    "insta_bounce_rate" -> ((s, d) =>
      sessions(s, d)
        .select(date_trunc("day", col("start_ts")).as("day"),
                when(col("n_events") === 1, 1).otherwise(0).as("is_bounce"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_sessions"),
             sum("is_bounce").as("n_bounce"))
        .select(col("day"), col("n_sessions"), col("n_bounce"),
                (round(col("n_bounce") / col("n_sessions"), 4) + 0.0)
                  .as("bounce_rate"))
        .orderBy("day")),

    // Day-of-week × hour activity matrix (long form) with the share
    // of each weekday's traffic per hour. The weekday derives from
    // integer epoch-day arithmetic ((days + 4) mod 7, Sunday = 0) so
    // both engines compute it identically — engine-native dayofweek
    // functions disagree on numbering conventions. The normalizing
    // window runs over the 7×24 aggregate.
    "events_dow_hour_matrix" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(date_trunc("second", col("ts")).as("tss"))
        .select(expr("cast(pmod(unix_timestamp(tss) div 86400 + 4, 7) " +
                     "as bigint)").as("dow"),
                hour(col("tss")).cast("long").as("hr"))
      e.groupBy("dow", "hr")
        .agg(count(lit(1)).as("n_events"))
        .withColumn("dow_share",
          round(col("n_events") /
            sum("n_events").over(Window.partitionBy("dow")), 4) + 0.0)
        .orderBy("dow", "hr")
    })
  )

  def oracles: Map[String, String] = Map(
    "insta_power_users" ->
      """WITH uc AS (
           SELECT user_id, count(*) AS n_events
           FROM events GROUP BY user_id
         ),
         tot AS (
           SELECT count(*) AS n_users, CAST(sum(n_events) AS BIGINT)
                    AS n_total
           FROM uc
         )
         SELECT CAST(row_number() OVER (ORDER BY n_events DESC, user_id)
                     AS BIGINT) AS rk,
                user_id, n_events,
                round(n_events / n_total, 4) + 0.0 AS share
         FROM uc CROSS JOIN tot
         QUALIFY rk <= greatest(1, n_users // 100)
         ORDER BY rk""",

    "insta_session_depth" ->
      """WITH e AS (
           SELECT user_id, event_id, date_trunc('second', ts) AS tss
           FROM events
         ),
         g AS (
           SELECT user_id, event_id, tss,
                  date_diff('second',
                            lag(tss) OVER (PARTITION BY user_id
                                           ORDER BY tss, event_id),
                            tss) AS gap
           FROM e
         ),
         s AS (
           SELECT user_id,
                  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800
                                THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY tss, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS session_id
           FROM g
         ),
         sess AS (
           SELECT user_id, session_id, count(*) AS n_events
           FROM s GROUP BY user_id, session_id
         )
         SELECT least(n_events, 10) AS depth_bucket,
                count(*) AS n_sessions
         FROM sess GROUP BY depth_bucket
         ORDER BY depth_bucket""",

    "insta_bounce_rate" ->
      """WITH e AS (
           SELECT user_id, event_id, date_trunc('second', ts) AS tss
           FROM events
         ),
         g AS (
           SELECT user_id, event_id, tss,
                  date_diff('second',
                            lag(tss) OVER (PARTITION BY user_id
                                           ORDER BY tss, event_id),
                            tss) AS gap
           FROM e
         ),
         s AS (
           SELECT user_id, tss,
                  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800
                                THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY tss, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS session_id
           FROM g
         ),
         sess AS (
           SELECT user_id, session_id, count(*) AS n_events,
                  min(tss) AS start_ts
           FROM s GROUP BY user_id, session_id
         )
         SELECT date_trunc('day', start_ts) AS day,
                count(*) AS n_sessions,
                CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_bounce,
                round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      / count(*), 4) + 0.0 AS bounce_rate
         FROM sess GROUP BY day
         ORDER BY day""",

    "events_dow_hour_matrix" ->
      """WITH e AS (
           SELECT date_trunc('second', ts) AS tss FROM events
         ),
         dh AS (
           SELECT (CAST(epoch(tss) AS BIGINT) // 86400 + 4) % 7 AS dow,
                  CAST(hour(tss) AS BIGINT) AS hr
           FROM e
         ),
         m AS (
           SELECT dow, hr, count(*) AS n_events
           FROM dh GROUP BY dow, hr
         )
         SELECT dow, hr, n_events,
                round(n_events / sum(n_events)
                        OVER (PARTITION BY dow), 4) + 0.0 AS dow_share
         FROM m
         ORDER BY dow, hr"""
  )
}

package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 seventh batch (SURVEY §2.11x): sliding-window distinct
  * counting from mergeable day-grain sketches — the composition that
  * makes "trailing 7-day actives" affordable at 100 TB.
  */
object Pipelines22 extends Module {

  def queries: Map[String, Q] = Map(
    // Trailing-7-day distinct users per day. The naive form re-scans
    // 7 days of facts per output day (7× the corpus per sweep); the
    // sketch form builds ONE day-grain HLL per day (single fact pass)
    // and each output day unions its 7 trailing sketches — register
    // merges over |days|×7 sketch rows, never fact rows again. The
    // declared output is the established sketch-audit form: the exact
    // count (computed via the explode-join here, at fixture scale)
    // plus a within-5% envelope flag the oracle states as TRUE;
    // lgK=14 ≈ 0.6% rse keeps the envelope safe at every fixture SF.
    // Day hops use date_add on DATE — pure calendar-day arithmetic,
    // identical cross-engine.
    "events_sliding_distinct_sketch" -> ((s, d) => {
      // Round 18 (opt, guide §2.4): materialized once — the skinny
      // (day, user) projection fed the bounds aggregate, the sketch
      // pass AND the exact pass, so the events scan ran three times.
      // Results identical.
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("eday"), col("user_id"))
        .localCheckpoint()
      val bounds = ev.agg(min("eday").as("mn"), max("eday").as("mx"))
      val daily = ev.groupBy("eday")
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val offs = explode(sequence(lit(0), lit(6))).as("off")
      val est = daily.select(col("eday"), col("sk"), offs)
        .withColumn("day", date_add(col("eday"), col("off")))
        .groupBy("day")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), false))
               .as("est"))
      val exact = ev.select(col("eday"), col("user_id"), offs)
        .withColumn("day", date_add(col("eday"), col("off")))
        .groupBy("day")
        .agg(count_distinct(col("user_id")).as("exact_users_7d"))
      exact.join(est, "day")
        .crossJoin(broadcast(bounds))
        .filter(col("day") >= col("mn") && col("day") <= col("mx"))
        .select(col("day"), col("exact_users_7d"),
                (abs(col("est") - col("exact_users_7d")) * 100 <=
                   col("exact_users_7d") * 5).as("within_5pct"))
        .orderBy("day")
    })
  )

  def oracles: Map[String, String] = Map(
    "events_sliding_distinct_sketch" ->
      """WITH e AS (
           SELECT CAST(ts AS DATE) AS eday, user_id FROM events
         ),
         bounds AS (SELECT min(eday) AS mn, max(eday) AS mx FROM e),
         x AS (
           SELECT eday + CAST(o AS INTEGER) AS day, user_id
           FROM e, unnest(range(0, 7)) AS t(o)
         )
         SELECT day, count(DISTINCT user_id) AS exact_users_7d,
                TRUE AS within_5pct
         FROM x, bounds
         WHERE day >= mn AND day <= mx
         GROUP BY day ORDER BY day"""
  )
}

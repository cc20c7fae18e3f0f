package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 third batch (SURVEY §2.11aa): remaining Spark-4 SQL-surface
  * gaps — exact distinct via mergeable BITMAPs, GROUP BY ALL / ORDER BY
  * ALL, declarative SQL scalar UDFs (CREATE FUNCTION ... RETURN), URL
  * decomposition, and offset-zone timestamp conversion.
  */
object Pipelines25 extends Module {

  def queries: Map[String, Q] = Map(
    // EXACT distinct counting via Spark-4 bitmap functions — the
    // mergeable-exact alternative to approx HLL (agg_hll_mergeable):
    // stage 1 ORs per-(type, bucket) bitmaps (map-side partial merge,
    // state = 4 KB per bucket regardless of row count), stage 2 sums
    // per-bucket popcounts — no count(distinct) expansion, no row-set
    // shuffle. At 100 TB the bucket bitmaps are what a daily rollup
    // persists; any coarser re-aggregation is bitmap_or_agg again.
    // uid+1 keeps every value in bitmap_bucket_number's positive range
    // (fixture user_id starts at 0).
    "agg_bitmap_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"), (col("user_id") + 1L).as("uid"))
        .groupBy(col("event_type"),
                 expr("bitmap_bucket_number(uid)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(uid))")
               .as("bm"))
        .groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("distinct_users"),
             count(lit(1)).as("n_buckets"))
        .orderBy("event_type")
    }),

    // GROUP BY ALL / ORDER BY ALL (Spark 4 SQL sugar, same semantics
    // in DuckDB): every non-aggregate select item becomes a grouping
    // key — the ergonomic form analysts actually write. Plans
    // identically to the explicit GROUP BY (uniform two-key agg).
    "sql_group_by_all" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("graft_ev_gba")
      s.sql(
        """SELECT event_type, year(ts) AS y,
          |       count(*) AS n_events,
          |       count(DISTINCT user_id) AS n_users,
          |       CAST(min(event_id) AS BIGINT) AS min_event_id
          |FROM graft_ev_gba
          |GROUP BY ALL
          |ORDER BY ALL""".stripMargin)
    }),

    // Declarative SQL scalar UDFs (Spark 4 CREATE FUNCTION ... RETURN):
    // the function body is INLINED into the plan by the analyzer —
    // unlike a JVM closure UDF it stays codegen'd and optimizer-visible
    // (constant folding, pushdown through it). Net-price math in
    // integer cents; floor(x*100 + 0.5) evaluates the same binary
    // double in both engines, so no shortest-decimal rounding skew.
    "sql_scalar_udf" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li_udf")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_net_cents(
          |  p DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS BIGINT
          |RETURN CAST(floor(p * (1.0 - disc) * (1.0 + tax) * 100 + 0.5)
          |            AS BIGINT)""".stripMargin)
      s.sql(
        """SELECT l_returnflag,
          |       count(*) AS n_lines,
          |       sum(graft_net_cents(l_extendedprice, l_discount, l_tax))
          |         AS net_cents
          |FROM graft_li_udf
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    }),

    // URL decomposition via the codegen'd ParseUrl expression: HOST /
    // PATH / QUERY / single query-param extraction over a URL column
    // (synthesized deterministically from document fields — fixtures
    // carry no URL column). The oracle reconstructs each part from the
    // same fields, so the check verifies parse_url's decomposition is
    // the exact inverse of the construction.
    "str_parse_url" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.com/docs/"),
                 col("doc_id"), lit("?lang="), col("lang"),
                 lit("&n="), col("n_chars")))
        .select(col("doc_id"),
                expr("parse_url(url, 'HOST')").as("host"),
                expr("parse_url(url, 'PATH')").as("path"),
                expr("parse_url(url, 'QUERY')").as("query"),
                expr("parse_url(url, 'QUERY', 'lang')").as("q_lang"))
        .orderBy("doc_id")
    }),

    // Offset-zone timestamp conversion (from/to_utc_timestamp with a
    // fixed '+05:30' zone): pure epoch arithmetic, no tzdb dependence,
    // so DuckDB states the same shift as an interval add. Round-trip
    // asserted per hour bucket (to_utc(from_utc(ts)) == ts counted).
    "dt_tz_offset_convert" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("ist", expr("from_utc_timestamp(ts, '+05:30')"))
        .withColumn("back", expr("to_utc_timestamp(ist, '+05:30')"))
        .groupBy(hour(col("ist")).cast("int").as("ist_hour"))
        .agg(count(lit(1)).as("n_events"),
             sum(when(col("back") === col("ts"), 1L).otherwise(0L))
               .as("n_roundtrip_ok"))
        .orderBy("ist_hour")
    })
  )

  def oracles: Map[String, String] = Map(
    "agg_bitmap_distinct" ->
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
                CAST(count(DISTINCT user_id // 32768) AS BIGINT)
                  AS n_buckets
         FROM events GROUP BY event_type ORDER BY event_type""",

    "sql_group_by_all" ->
      """SELECT event_type, CAST(year(ts) AS INTEGER) AS y,
                count(*) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(min(event_id) AS BIGINT) AS min_event_id
         FROM events
         GROUP BY ALL
         ORDER BY ALL""",

    "sql_scalar_udf" ->
      """SELECT l_returnflag, count(*) AS n_lines,
                CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                                    * (1.0 + l_tax) * 100 + 0.5)
                              AS BIGINT)) AS BIGINT) AS net_cents
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "str_parse_url" ->
      """SELECT doc_id,
                source || '.example.com' AS host,
                '/docs/' || doc_id AS path,
                'lang=' || lang || '&n=' || n_chars AS query,
                lang AS q_lang
         FROM documents ORDER BY doc_id""",

    "dt_tz_offset_convert" ->
      """SELECT CAST(hour(CAST(ts AS TIMESTAMP) + INTERVAL '330' MINUTE)
                     AS INTEGER) AS ist_hour,
                count(*) AS n_events,
                count(*) AS n_roundtrip_ok
         FROM events
         GROUP BY 1 ORDER BY 1"""
  )
}
